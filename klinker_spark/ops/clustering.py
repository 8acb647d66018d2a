"""Density-based clustering over an embedding column — the engine's
HDBSCAN stand-in with REAL noise-label semantics (M14/M15).

Reference: ``/root/reference/src/klinker/blockers/attribute_clustering.
py:88-130`` (``_handle_noise_cluster`` — keep / remove / token noise
handling over hdbscan's ``-1`` labels) and
``blockers/embedding/blockbuilder.py:286-436`` (cluster block builder).
The reference runs hdbscan/cuml on the driver; there is no distributed
HDBSCAN, so this module implements **DBSCAN** — the classic density
clustering HDBSCAN generalizes — as pure DataFrame algebra:

1. ε-neighborhood edges: a cosine self-join thresholded at
   ``min_sim`` (unit-sphere euclidean ε ≡ cosine ``1 - ε²/2``);
2. core points: ≥ ``min_pts`` neighbors (self included) — one
   aggregate;
3. clusters: connected components of the core-core subgraph via
   iterated min-label propagation (each round one join + one
   aggregate; rounds bounded by the component diameter — the standard
   GraphX/Pregel shape);
4. border points attach to their smallest-labeled core neighbor;
   everything else is NOISE, label ``-1`` — hdbscan's convention.

Labels are the smallest member id of the component: deterministic,
no fit randomness, any engine reproduces them.

Scale note: the ε-join here is the exact broadcast form (the op is
used on *distinct attribute values*, orders of magnitude smaller than
the data).  For a billion-row ε-join swap the candidate generator for
the banded sign-LSH self-join (``ops.dedup.cosine_signlsh_dedup``
shape) and keep stages 2-4 unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import ckpt
from ..functions.vectors import cosine

__all__ = ["dbscan_labels", "hdbscan_labels", "mutual_reachability_edges", "boruvka_mst"]


@ckpt.scope()
def dbscan_labels(
    emb: DataFrame,
    min_sim: float = 0.9,
    min_pts: int = 3,
    max_iter: int = 25,
    id_col: str = "id",
    vec_col: str = "vector",
) -> DataFrame:
    """``(id, vector)`` → ``(id, label)`` with ``label`` the smallest
    id in the point's cluster, or ``"-1"`` for noise."""
    pts = emb.select(
        F.col(id_col).cast("string").alias("id"), F.col(vec_col).alias("v")
    )
    other = pts.select(F.col("id").alias("nid"), F.col("v").alias("nv"))
    # cosine() yields NaN for zero-norm vectors, and Spark orders NaN
    # ABOVE every double — an unguarded `sim >= min_sim` would make a
    # zero vector a neighbor of EVERYTHING (a hub that merges clusters).
    # Zero-norm points have no direction, hence no ε-neighbors: NaN
    # rows are filtered, and such points fall out as noise.
    sim = cosine(F.col("v"), F.col("nv"))
    edges = (
        pts.join(F.broadcast(other), F.col("id") != F.col("nid"))
        .where(~F.isnan(sim) & (sim >= min_sim))
        .select("id", "nid")
    )
    # ε-graph reused by degree count, propagation, and border attach
    edges = ckpt.persist(edges)

    deg = edges.groupBy("id").agg((F.count("*") + 1).alias("deg"))
    core = ckpt.persist(
        pts.select("id")
        .join(deg, "id", "left")
        .where(F.coalesce(F.col("deg"), F.lit(1)) >= min_pts)
        .select("id")
    )
    core_edges = ckpt.persist(
        edges.join(core, "id", "left_semi")
        .join(core.withColumnRenamed("id", "nid"), "nid", "left_semi")
    )

    # cluster = connected components of the core-core subgraph; the
    # shared Pregel kernel raises on non-convergence, which would
    # silently split a cluster and diverge from the smallest-member-id
    # semantics (and the recursive-CTE oracle's true fixpoint)
    from .curation import connected_components

    labels = connected_components(
        core_edges, "id", "nid", max_iter=max_iter, vertices=core
    )

    border = (
        edges.join(core.withColumnRenamed("id", "nid"), "nid", "left_semi")
        .join(core, "id", "left_anti")  # not core itself
        .join(labels.withColumnRenamed("id", "nid"), "nid")
        .groupBy("id")
        .agg(F.min("label").alias("label"))
    )
    # materialize before dropping the cached ε-graph — the result is
    # |V| scalar rows, while a lazy return would re-run the ε-join
    out = ckpt.checkpoint(
        labels.unionByName(border)
        .unionByName(
            pts.select("id")
            .join(labels.select("id"), "id", "left_anti")
            .join(border.select("id"), "id", "left_anti")
            .select("id", F.lit("-1").alias("label"))
        )
    )
    return ckpt.keep(out)


# ------------------------------------------------------------------ HDBSCAN
# True hierarchical density clustering (Campello, Moulavi, Sander 2013;
# the hdbscan library's conventions) — closing the semantic gap with
# reference ``blockers/attribute_clustering.py:18-21``, which runs the
# hdbscan lib driver-side.  Decomposition for Spark:
#
#   1. core distances + mutual-reachability edge weights — DataFrame
#      algebra (a window over the pair table);
#   2. the mutual-reachability MST — distributed Borůvka (O(log n)
#      rounds, each one join + one per-component min);
#   3. condensation + excess-of-mass cluster selection — driver-side
#      over the MST's n-1 scalar edges.  This is the SAME collect
#      boundary as the reference (which collects the full distance
#      matrix!); the O(n²) distance work stays distributed.


@ckpt.scope()
def mutual_reachability_edges(
    emb: DataFrame,
    min_samples: int = 5,
    k_graph: int | None = None,
    id_col: str = "id",
    vec_col: str = "vector",
) -> DataFrame:
    """Mutual-reachability graph ``(a, b, w)`` with ``a < b`` and
    ``w = max(d(a,b), core_a, core_b)`` (euclidean).

    ``core_x`` = distance to the ``min_samples``-th nearest neighbor
    counting x itself (hdbscan's convention: ``min_samples=1`` ⇒ core
    0).  ``k_graph=None`` keeps ALL pairs — the exact graph, giving the
    exact MST (the op targets distinct attribute values, the reference
    scale); an integer keeps each point's ``k_graph`` nearest neighbors
    (symmetrized), the standard sparse approximation for large n — same
    swap as dbscan's ε-join note.  The pair generation broadcasts one
    side, like :func:`dbscan_labels`.
    """
    pts = emb.select(F.col(id_col).cast("string").alias("id"), F.col(vec_col).alias("v"))
    other = pts.select(F.col("id").alias("nid"), F.col("v").alias("nv"))
    # per-term math in DOUBLE: the embeddings are float32, and a
    # float-precision (x-y)² loses ~1e-7 relative per term — enough to
    # shift MST edge weights ~1e-9 vs the double-exact oracle (caught
    # by the sf0.1 sweep once mst_stats went integer-exact).  Each
    # float is exact in double, the fold is left-to-right with a
    # leading 0.0 — the same IEEE sequence as DuckDB's list_sum, so
    # the distance is bit-identical across engines.
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                "v",
                "nv",
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    pairs = ckpt.persist(
        pts.join(F.broadcast(other), F.col("id") != F.col("nid"))
        .select("id", "nid", dist.alias("d"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.col("d").asc(), F.col("nid").asc())
            ),
        )
    )
    # core distance: (min_samples-1)-th OTHER neighbor = min_samples-th
    # including self (d(self)=0)
    if min_samples <= 1:
        cores = pts.select("id", F.lit(0.0).alias("core"))
    else:
        cores = pairs.where(F.col("rk") == min_samples - 1).select("id", F.col("d").alias("core"))
        # fewer than min_samples-1 neighbors (tiny corpus): core = max d
        missing = (
            pairs.groupBy("id").agg(F.max("d").alias("core"))
            .join(cores.select("id"), "id", "left_anti")
        )
        cores = cores.unionByName(missing)
    cand = pairs.where(F.lit(True) if k_graph is None else (F.col("rk") <= k_graph))
    canon = (
        cand.select(
            F.least("id", "nid").alias("a"), F.greatest("id", "nid").alias("b"), "d"
        ).distinct()
    )
    out = ckpt.checkpoint(
        canon.join(cores.select(F.col("id").alias("a"), F.col("core").alias("core_a")), "a")
        .join(cores.select(F.col("id").alias("b"), F.col("core").alias("core_b")), "b")
        .select("a", "b", F.greatest("d", "core_a", "core_b").alias("w"))
    )
    return ckpt.keep(out)


#: Below this many selected contraction edges per Borůvka round, the
#: component relabeling runs as a driver-side union-find (the edge set
#: is ≤ #components rows — it SHRINKS geometrically) instead of the
#: iterative distributed CC, cutting ~5 Spark jobs per round to one
#: broadcast join.  Above it (billion-vertex regime), the distributed
#: large-graph path takes over.
BORUVKA_DRIVER_CONTRACT_MAX = 100_000


@ckpt.scope()
def boruvka_mst(
    edges: DataFrame, vertices: DataFrame, max_iter: int = 30
) -> DataFrame:
    """Minimum spanning forest of an undirected weighted graph —
    distributed Borůvka: each round every component selects its
    minimum outgoing edge under the TOTAL order ``(w, a, b)`` (strict
    total order ⇒ no cycles even with tied weights), selected edges
    join the forest, components contract (driver union-find on the
    ≤ #components selected edges while they fit
    ``BORUVKA_DRIVER_CONTRACT_MAX``, else the distributed
    :func:`~klinker_spark.ops.curation.connected_components`).
    Components at least halve per round ⇒ ≤ log₂(n) rounds.

    ``edges``: ``(a, b, w)`` canonical ``a < b``; ``vertices``: one
    column of vertex ids.  Output: the forest edges ``(a, b, w)``
    (n - #components rows).
    """
    from ..session import local_df
    from .curation import connected_components

    comp = ckpt.checkpoint(
        vertices.select(F.col(vertices.columns[0]).alias("id")).withColumn("comp", F.col("id"))
    )
    ed = ckpt.checkpoint(edges)
    spark = edges.sparkSession
    mst = None
    for _ in range(max_iter):
        lab_a = comp.select(F.col("id").alias("a"), F.col("comp").alias("ca"))
        lab_b = comp.select(F.col("id").alias("b"), F.col("comp").alias("cb"))
        cross = ckpt.checkpoint(
            ed.join(lab_a, "a").join(lab_b, "b").where(F.col("ca") != F.col("cb"))
        )
        if cross.isEmpty():
            break
        wnd = Window.partitionBy("comp").orderBy(
            F.col("w").asc(), F.col("a").asc(), F.col("b").asc()
        )
        sel = ckpt.checkpoint(
            cross.select(F.col("ca").alias("comp"), "a", "b", "w", "ca", "cb")
            .unionByName(cross.select(F.col("cb").alias("comp"), "a", "b", "w", "ca", "cb"))
            .withColumn("rn", F.row_number().over(wnd))
            .where(F.col("rn") == 1)
            .select("a", "b", "w", "ca", "cb")
            .distinct()
        )
        prev_mst = mst
        # first round checkpoints too: the forest must be self-contained
        # so each round's sel blocks can free at round end
        mst = ckpt.checkpoint(
            sel.select("a", "b", "w")
            if mst is None
            else mst.unionByName(sel.select("a", "b", "w"))
        )
        ckpt.release(prev_mst)
        n_sel = sel.count()
        if n_sel <= BORUVKA_DRIVER_CONTRACT_MAX:
            # driver union-find over the selected component pairs
            parent: dict = {}

            def find(x):
                while parent.setdefault(x, x) != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            pairs_local = sel.select("ca", "cb").collect()
            for r in pairs_local:
                ra, rb = find(r["ca"]), find(r["cb"])
                if ra != rb:  # deterministic label: smaller root wins
                    lo, hi = (ra, rb) if ra <= rb else (rb, ra)
                    parent[hi] = lo
            mapping = [(c, find(c)) for c in list(parent)]
            ctype = comp.schema["comp"].dataType.simpleString()
            relabel = local_df(spark, mapping, f"comp {ctype}, label {ctype}")
            prev_comp = comp
            comp = ckpt.checkpoint(
                comp.join(F.broadcast(relabel), "comp", "left")
                .select("id", F.coalesce("label", "comp").alias("comp"))
            )
        else:
            contract = sel.select(F.col("ca").alias("src"), F.col("cb").alias("dst"))
            relabel_df = connected_components(
                contract, "src", "dst", vertices=comp.select("comp").distinct()
            )
            prev_comp = comp
            comp = ckpt.checkpoint(
                comp.join(relabel_df.withColumnRenamed("id", "comp"), "comp")
                .select("id", F.col("label").alias("comp"))
            )
            ckpt.release(relabel_df)
        # round teardown: the contracted labels supersede prev_comp; the
        # selected-edge and crossing tables are folded into mst/comp
        ckpt.release(prev_comp)
        ckpt.release(sel)
        ckpt.release(cross)
    else:
        raise RuntimeError(f"boruvka_mst did not converge in {max_iter} rounds")
    if mst is None:
        return spark.createDataFrame([], "a string, b string, w double")
    return ckpt.keep(mst)


#: λ cap standing in for 1/0 when points coincide (w = 0): finite so
#: stability sums stay well-defined, huge so zero-distance merges
#: always outrank real ones.
_LAMBDA_MAX = 1e12


def _condense_and_select(
    mst_rows, point_ids, min_cluster_size: int, allow_single_cluster: bool
):
    """Driver-side single-linkage → condensed tree → excess-of-mass
    selection (the hdbscan library's pipeline over the collected MST).
    Returns ``{point_id: cluster_key or None}`` with cluster_key the
    root-distinguishing integer of the selected cluster."""
    n = len(point_ids)
    idx = {p: i for i, p in enumerate(point_ids)}
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    # single-linkage dendrogram: internal nodes n.. in merge order
    children: dict[int, tuple[int, int, float]] = {}
    comp_node = list(range(n))
    cur = n
    for a, b, w in sorted(mst_rows, key=lambda r: (r[2], r[0], r[1])):
        ra, rb = find(idx[a]), find(idx[b])
        children[cur] = (comp_node[ra], comp_node[rb], float(w))
        parent[rb] = ra
        comp_node[ra] = cur
        cur += 1
    roots = {comp_node[find(i)] for i in range(n)}

    sizes: dict[int, int] = {}

    def size_of(node):  # iterative subtree leaf count
        stack = [node]
        while stack:
            x = stack.pop()
            if x in sizes:
                continue
            if x < n:
                sizes[x] = 1
                continue
            l, r, _ = children[x]
            if l in sizes and r in sizes:
                sizes[x] = sizes[l] + sizes[r]
            else:
                stack.extend((x, l, r))
        return sizes[node]

    def leaves(node):
        out, stack = [], [node]
        while stack:
            x = stack.pop()
            if x < n:
                out.append(x)
            else:
                l, r, _ = children[x]
                stack.extend((l, r))
        return out

    # condensed tree: cluster -> birth λ, parent cluster, point exits
    birth: dict[int, float] = {}
    cparent: dict[int, int] = {}
    exits: dict[int, list[tuple[int, float]]] = {}
    cchildren: dict[int, list[int]] = {}
    next_cluster = [0]
    point_exit: dict[int, tuple[int, float]] = {}  # leaf -> (cluster, λ)

    def new_cluster(parent_c, lam):
        c = next_cluster[0]
        next_cluster[0] += 1
        birth[c] = lam
        exits[c] = []
        cchildren[c] = []
        if parent_c is not None:
            cparent[c] = parent_c
            cchildren[parent_c].append(c)
        return c

    for root in sorted(roots):
        rc = new_cluster(None, 0.0)
        stack = [(root, rc)]
        while stack:
            node, c = stack.pop()
            if node < n:  # singleton component / chain end
                exits[c].append((node, _LAMBDA_MAX))
                point_exit[node] = (c, _LAMBDA_MAX)
                continue
            l, r, w = children[node]
            lam = (1.0 / w) if w > 0 else _LAMBDA_MAX
            sl, sr = size_of(l), size_of(r)
            big_l, big_r = sl >= min_cluster_size, sr >= min_cluster_size
            if big_l and big_r:  # true split: two child clusters born
                for ch in (l, r):
                    stack.append((ch, new_cluster(c, lam)))
            elif big_l or big_r:  # small side falls out, cluster continues
                keep, drop = (l, r) if big_l else (r, l)
                for p in leaves(drop):
                    exits[c].append((p, lam))
                    point_exit[p] = (c, lam)
                stack.append((keep, c))
            else:  # cluster dissolves: every point leaves here
                for p in leaves(node):
                    exits[c].append((p, lam))
                    point_exit[p] = (c, lam)

    # stability (hdbscan compute_stability): per point-exit row
    # (λ_exit - λ_birth), plus per child-cluster row
    # (λ_child_birth - λ_birth) · |child subtree|
    total_size: dict[int, int] = {}
    for c in sorted(birth, reverse=True):  # children created after parents
        total_size[c] = len(exits[c]) + sum(total_size[k] for k in cchildren[c])
    stability = {
        c: sum(lam - birth[c] for _, lam in exits[c])
        + sum((birth[ch] - birth[c]) * total_size[ch] for ch in cchildren[c])
        for c in birth
    }

    # excess-of-mass selection, bottom-up (reverse creation order);
    # roots (λ_birth = 0) are never selectable unless
    # allow_single_cluster; undersized singleton-root "clusters"
    # (disconnected k_graph leftovers) never are
    selected: dict[int, bool] = {}
    subtree: dict[int, float] = {}
    for c in sorted(birth, reverse=True):
        kids = cchildren[c]
        s_kids = sum(subtree[k] for k in kids)
        is_root = c not in cparent
        root_blocked = is_root and (
            not allow_single_cluster or total_size[c] < min_cluster_size
        )
        if not kids:
            selected[c] = not root_blocked
            subtree[c] = stability[c]
        elif s_kids > stability[c] or root_blocked:
            selected[c] = False
            subtree[c] = s_kids
        else:
            selected[c] = True
            subtree[c] = stability[c]
            stack = list(kids)  # deselect all descendants, iteratively
            while stack:
                k = stack.pop()
                selected[k] = False
                stack.extend(cchildren[k])

    labels: dict[str, int | None] = {}
    lam_of: dict[str, float] = {}
    for p, (c, lam) in point_exit.items():
        cc: int | None = c
        while cc is not None and not selected.get(cc, False):
            cc = cparent.get(cc)
        labels[point_ids[p]] = cc
        lam_of[point_ids[p]] = lam
    # membership probability (hdbscan probabilities_): λ_p normalized
    # by the max exit λ within the selected cluster's subtree — 1.0 for
    # the densest core, → 0 for points that left right after birth,
    # 0 for noise
    lam_max: dict[int, float] = {}
    for p, c in labels.items():
        if c is not None:
            lam_max[c] = max(lam_max.get(c, 0.0), lam_of[p])
    probs = {
        p: (min(1.0, lam_of[p] / lam_max[c]) if c is not None and lam_max[c] > 0 else 0.0)
        for p, c in labels.items()
    }
    return labels, probs


@ckpt.scope()
def hdbscan_labels(
    emb: DataFrame,
    min_cluster_size: int = 5,
    min_samples: int | None = None,
    k_graph: int | None = None,
    allow_single_cluster: bool = False,
    probabilities: bool = False,
    id_col: str = "id",
    vec_col: str = "vector",
) -> DataFrame:
    """HDBSCAN over ``(id, vector)`` → ``(id, label)``; ``label`` is the
    smallest member id of the selected cluster (the engine's
    deterministic labeling convention, as :func:`dbscan_labels`), or
    ``"-1"`` for noise — hdbscan's convention for points in no selected
    cluster.  ``probabilities=True`` adds the library's membership
    strength: the point's exit λ normalized by its cluster's max exit λ
    (1.0 at the densest core, 0.0 for noise).

    Faithful to the hdbscan library's semantics (ref
    ``attribute_clustering.py:18-21`` runs that lib driver-side):
    mutual-reachability single-linkage hierarchy, ``min_cluster_size``
    condensation (small split sides fall out of the continuing
    cluster), excess-of-mass cluster selection, root unselectable
    unless ``allow_single_cluster`` — so a uniform-density blob with
    ``allow_single_cluster=False`` is ALL noise, and clusters of
    different densities are found where single-ε DBSCAN cannot.
    Membership follows the library's default ``do_labelling``: every
    point climbs to its nearest SELECTED ancestor cluster (early
    fall-outs of a selected cluster are members); only points whose
    chain ends at an unselected root are noise.

    ``min_samples`` defaults to ``min_cluster_size`` (the lib default).
    Scale shape: distances and the Borůvka MST are distributed; only
    the n-1 MST edges are collected for condensation (vs the
    reference's full driver distance matrix).  For corpus-scale n, pass
    ``k_graph`` to sparsify candidate edges (kNN symmetrization).
    """
    if min_cluster_size < 2:
        raise ValueError("min_cluster_size must be >= 2 (hdbscan convention)")
    ms = min_cluster_size if min_samples is None else min_samples
    pts = emb.select(F.col(id_col).cast("string").alias("id"), F.col(vec_col).alias("v"))
    edges = mutual_reachability_edges(
        pts, min_samples=ms, k_graph=k_graph, id_col="id", vec_col="v"
    )
    mst = boruvka_mst(edges, pts.select("id"))
    ids = [r["id"] for r in pts.select("id").distinct().collect()]
    rows = [(r["a"], r["b"], r["w"]) for r in mst.collect()]
    labels, probs = _condense_and_select(
        rows, sorted(ids), min_cluster_size, allow_single_cluster
    )
    # cluster key -> smallest member id
    by_cluster: dict[int, list[str]] = {}
    for p, c in labels.items():
        if c is not None:
            by_cluster.setdefault(c, []).append(p)
    name = {c: min(members) for c, members in by_cluster.items()}
    from ..session import local_df

    if probabilities:
        out_rows = [
            (p, name[c] if c is not None else "-1", round(probs[p], 6))
            for p, c in labels.items()
        ]
        return local_df(
            emb.sparkSession, out_rows, "id string, label string, probability double"
        )
    out_rows = [(p, name[c] if c is not None else "-1") for p, c in labels.items()]
    return local_df(emb.sparkSession, out_rows, "id string, label string")
