"""Whole-graph link analysis — PageRank entity importance.

The reference ranks relations/attributes by local frequency statistics
(``/root/reference/src/klinker/blockers/relation_aware.py:85-103``);
a knowledge-graph-scale pipeline additionally wants a GLOBAL entity
importance — which entities to keep when budgeting blocks, which side
of a pair is the canonical survivor.  PageRank over the relation
triples is the standard such measure.

Spark-first, engine-exact design
--------------------------------
Power iteration as pure DataFrame algebra — per iteration one
``join`` (edges × ranks, both pre-partitioned on the join key) and one
``groupBy(tail)`` aggregate.  All mass arithmetic is INTEGER
micro-units: per-edge contribution ``rank_micro DIV outdeg`` (exact
integer division) summed as BIGINT (shuffle-order-free), then one
``round`` each for the damping multiply and the teleport term — so any
engine reproduces bit-identical ranks and the operator carries an
exact SQL oracle (unrolled-CTE power iteration, the
``quality_classifier_md5`` recipe).

Scale: ranks/outdeg co-partition on the node key across iterations;
edges shuffle once per iteration on ``head`` then ``tail`` (the
irreducible PageRank traffic).  Fixed ``iters`` keeps lineage bounded;
at 100 TB persist each iteration's rank table and truncate lineage
(``localCheckpoint``) every few rounds — noted, not needed for the
small fixed depth here.  Dangling nodes (no out-edges) leak their
damped mass to the teleport floor — the standard simplified variant;
use it for RANKING, not for a probability distribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import ckpt

__all__ = [
    "pagerank",
    "triangle_count",
    "neighbor_jaccard_join",
    "label_propagation",
    "k_core",
    "bfs_distances",
    "hits",
]


#: Bounded-iteration operators (hits, label_propagation, bfs_distances)
#: keep their loop-invariant edge table as a per-key-partitioned CACHED
#: copy only above this many rows.  At SMJ scale that layout saves one
#: |E| shuffle per round (localCheckpoint erases outputPartitioning in
#: Spark 4).  Below it the per-round score/label/frontier side
#: broadcasts anyway — the edge side already streams exchange-free —
#: so the extra exchange + cache build and the cached relation's
#: untruncated per-round analysis plan are pure cost.  Interleaved
#: same-session A/B at sf0.1, warm reps (r12): checkpointed vs cached
#: hits 3.2-3.9 s vs 4.5-5.5 s, token_community 2.5-2.7 vs 2.9-3.4,
#: bfs_reach 3.7-4.7 vs 4.0-5.9 — the r11 checkpoint shape wins below
#: the gate everywhere.
ITER_PARTITIONED_EDGE_MIN = 2_000_000

#: outdeg-shape probe (r11, closes the r10 documented escape hatch):
#: the window form funnels a celebrity head's entire out-edge set
#: through ONE task (AQE never splits window partitions); above this
#: many estimated rows-per-task the groupBy+join form is used instead.
#: ~5M count-window rows per task is a few seconds — far below it the
#: single-shuffle window wins (measured 4.5 s → 1.6 s at sf0.1).
OUTDEG_WINDOW_MAX_TASK_ROWS = 5_000_000
_OUTDEG_PROBE_FRACTION = 0.01


@ckpt.scope()
def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    broadcast_ranks: bool | None = None,
    sources: list[str] | None = None,
    outdeg_shape: str = "auto",
) -> DataFrame:
    """Fixed-iteration integer-micro-unit PageRank; pass ``sources``
    for the PERSONALIZED variant (random walk with restart): teleport
    mass lands only on the source set, so ranks measure proximity to
    the sources rather than global importance — the standard
    seed-expansion primitive (related-entity discovery from a handful
    of known matches).

    ``edges`` carries ``(head, tail)``; multi-edges count once each
    (dedup upstream if unwanted).  Returns ``(node, rank_micro,
    rank)`` for every node, ``rank = round(rank_micro / 1e6, 6)``.

    Iteration: ``r₀ = round(1e6 / N)`` (or ``1e6/|S|`` on sources, 0
    elsewhere);
    ``r_{t+1}(v) = [v∈T]·round((1-d)·1e6 / |T|) + round(d · Σ_{u→v} r_t(u) DIV outdeg(u))``
    with T = sources (or all nodes when unpersonalized).
    """
    tele = (1.0 - damping) * 1e6
    # loop-invariant tables materialize ONCE (cached; freed when the
    # ranks are checkpointed and this scope exits).  Without this every
    # iteration re-executes the distinct-union node build and the edge
    # scan (5 iterations = 5 node shuffles instead of 1); pre-joining
    # outdeg INTO the edge table drops the second per-iteration join —
    # each iteration is then one equi-join + one aggregate, the
    # irreducible PageRank traffic.
    from pyspark.sql import Window

    # outdeg via a head-partitioned count window: ONE shuffle of the
    # edge table (an aggregate-then-join-back would shuffle it twice
    # and re-derive the input once per side — measured 4.5 s → 1.6 s
    # at sf0.1).  Skew boundary (r10 audit, made DATA-DRIVEN in r11):
    # a celebrity head funnels its out-edges through one window task,
    # and AQE skew-split never applies to windows.  ``outdeg_shape``:
    # "window" / "join" force a form; "auto" runs a cheap sampled
    # max-out-degree probe (narrow 1% scan; only the sample's
    # partial-aggregated (head, count) rows shuffle) and switches to
    # the groupBy+join form — every stage of which AQE can skew-split
    # — when the estimated hottest head exceeds
    # OUTDEG_WINDOW_MAX_TASK_ROWS.  Callers with an expensive edge
    # lineage should pre-checkpoint it (the probe executes the lineage
    # once) or pass an explicit shape.
    if outdeg_shape not in ("auto", "window", "join"):
        raise ValueError(f"outdeg_shape must be auto|window|join, got {outdeg_shape!r}")
    e = edges.select("head", "tail")
    shape = outdeg_shape
    if shape == "auto":
        probed = (
            e.select("head")
            .sample(fraction=_OUTDEG_PROBE_FRACTION, seed=7)
            .groupBy("head")
            .agg(F.count("*").alias("_c"))
            .agg(F.max("_c").alias("_m"))
            .first()
        )
        est_max = int((probed["_m"] or 0) / _OUTDEG_PROBE_FRACTION)
        shape = "join" if est_max > OUTDEG_WINDOW_MAX_TASK_ROWS else "window"
    # The edge table is LOOP-INVARIANT and its lineage is shallow, so
    # it is PERSISTED, not checkpointed (r12): localCheckpoint erases
    # outputPartitioning (Spark 4 rebuilds the plan over a bare
    # LogicalRDD — verified: an explicitly repartitioned, checkpointed
    # side still gets a fresh Exchange under SortMergeJoin), which
    # forced a full |E| re-shuffle on head EVERY iteration.  An
    # explicit hash repartition FED INTO the outdeg computation (the
    # window / groupBy reuse it — no extra exchange) survives inside
    # the cached InMemoryRelation, so each iteration's rank join
    # re-shuffles only the |V'|-row mass table, never the edges.
    spark = edges.sparkSession
    try:
        part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        part = spark.sparkContext.defaultParallelism
    e = e.repartition(part, "head")
    if shape == "join":
        deg = e.groupBy("head").agg(F.count("*").alias("outdeg"))
        # LEFT join, not inner: an inner equi-join silently drops
        # null-head edges (null never equi-matches, even its own
        # group), removing their TAILS from the node set — while the
        # window form keeps them in a null partition.  The shapes must
        # be result-invariant (r11 ADVICE): null-head rows survive
        # here with a null outdeg, and contribute no mass in either
        # form (the per-iteration rank join is an inner equi-join on
        # head, which both shapes route null heads out of).
        edges_w = ckpt.persist(e.join(deg, "head", "left"))
    else:
        edges_w = ckpt.persist(
            e.withColumn("outdeg", F.count("*").over(Window.partitionBy("head")))
        )
    edges_w.count()  # materialize eagerly, like the checkpoint it replaces
    # PERSISTED, not checkpointed (r13): the distinct's
    # hashpartitioning(node) survives inside the cached relation (the
    # same Spark-4 localCheckpoint-erases-partitioning finding as the
    # edge and mass tables), so the FINAL nodes ⟕ summed join below is
    # exchange-free on this side — checkpointed nodes paid one full |V|
    # re-shuffle + sort there (plan-verified: SMJ over two
    # UnknownPartitioning leaves, 2 Exchanges + 2 Sorts).
    nodes = ckpt.persist(
        edges_w.select(F.col("head").alias("node"))
        .union(edges_w.select("tail"))
        .distinct()
    )
    # |V| counted ONCE driver-side (one count job) and folded into the
    # iteration expressions as a literal — the previous shape recounted
    # nodes (an aggregate + single-partition exchange) and rebuilt a
    # one-row broadcast EVERY iteration.
    n = nodes.count()
    if n == 0:
        # empty graph: the |V| literal would constant-fold into an
        # ANSI divide-by-zero at PLANNING time (unlike the old
        # column-based division, which no row ever evaluated)
        return nodes.select(
            "node",
            F.lit(None).cast("bigint").alias("rank_micro"),
            F.lit(None).cast("double").alias("rank"),
        ).where(F.lit(False))
    # rank-vector delivery: when the per-node mass table is small,
    # BROADCAST it into the edge join — the edge table never shuffles
    # and each iteration is a map-side join + one aggregate (the
    # GraphX-style small-graph fast path).  The crossover is LOW:
    # the broadcast is rebuilt every iteration (driver collect +
    # serialize + ship), so past ~500k nodes the shuffle join wins —
    # measured 4.8 s vs 8.8 s at 185k nodes (broadcast wins warm) but
    # 40.8 s vs 20.9 s at 1.85M nodes (broadcast loses 2x).  Auto
    # unless overridden.
    if broadcast_ranks is None:
        broadcast_ranks = n <= 500_000

    # r12 iteration shape: the NODES table leaves the loop.  Since
    # rank_t(u) = tele(u) + round(d · s_{t-1}(u)) with s_{t-1}(u) = 0
    # when u received no mass, the per-edge contribution can be
    # reconstructed from the previous round's in-mass table alone —
    # edges LEFT JOIN summed, coalesce(s, 0).  The previous shape
    # rebuilt a full |V|-row rank table each round (nodes ⟕ summed:
    # one extra |V| shuffle + sort per iteration); now one join + one
    # aggregate per round is ALL the traffic, and the full node set is
    # joined back exactly once at the end.  Arithmetic is expression-
    # identical, so ranks are bit-identical to the unrolled SQL oracle.
    def _tele_init_for(col: str):
        """(teleport-term, init-rank) expressions keyed on ``col``."""
        if sources is not None:
            src = F.array(*[F.lit(x) for x in sources])
            is_src = F.array_contains(src, F.col(col))
            n_src = float(len(sources))
            tele_c = F.when(
                is_src, F.round(F.lit(tele / n_src)).cast("bigint")
            ).otherwise(F.lit(0))
            init_c = (
                F.when(is_src, F.round(F.lit(1e6 / n_src)).cast("bigint"))
                .otherwise(F.lit(0))
            )
        else:
            tele_c = F.round(F.lit(tele) / F.lit(n)).cast("bigint")
            init_c = F.round(F.lit(1e6) / F.lit(n)).cast("bigint")
        return tele_c, init_c

    tele_h, init_h = _tele_init_for("head")
    # null-head edges carry no mass in either outdeg shape (the old
    # inner rank join routed them out); with the left-join iteration
    # they must be filtered explicitly or they'd contribute teleport
    # mass from a nonexistent source
    contrib = edges_w.where(F.col("head").isNotNull())

    def _spread(rank_of_head):
        """One power-iteration round: per-edge integer mass split +
        tail aggregate — the irreducible PageRank traffic."""
        return (
            rank_of_head.select(
                F.col("tail").alias("node"),
                F.expr("rank_micro DIV outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )

    summed = None
    for it in range(iters):
        prev = summed
        if summed is None:
            # round 0 needs no join at all: r₀ is a pure expression of
            # head membership
            spread_in = contrib.withColumn("rank_micro", init_h)
        else:
            s_head = summed.select(F.col("node").alias("head"), "s")
            # non-broadcast delivery: both sides are already hash-
            # partitioned on the key (edges from the cached repartition,
            # the mass table from its groupBy — persist KEEPS that
            # layout, see below), so the join needs no exchange; the
            # shuffle_hash hint builds on the slim |V'|-row side and
            # skips SMJ's per-round sort of the |E| stream entirely.
            spread_in = contrib.join(
                F.broadcast(s_head)
                if broadcast_ranks
                else s_head.hint("shuffle_hash"),
                "head",
                "left",
            ).withColumn(
                "rank_micro",
                tele_h
                + F.round(
                    F.lit(damping) * F.coalesce(F.col("s"), F.lit(0))
                ).cast("bigint"),
            )
        # materialize per iteration: the unrolled 5-deep DAG would
        # otherwise re-derive every prior iteration inside each
        # broadcast build; the table is 2 slim columns per node.
        # Shuffle-join path: PERSISTED, not checkpointed (same Spark-4
        # finding as the edge table above) — localCheckpoint erased the
        # groupBy's hashpartitioning(node), so every next-round join
        # re-shuffled the mass table; the cached InMemoryRelation keeps
        # the layout and the SHJ consumes it exchange- and sort-free.
        # Broadcast path: the mass table is collected to the driver
        # each round anyway, so partitioning buys nothing — keep the
        # r11 checkpoint shape (measured equal; no churn at toy scale).
        if broadcast_ranks:
            summed = ckpt.checkpoint(_spread(spread_in))
        else:
            summed = ckpt.persist(_spread(spread_in))
            summed.count()  # eager, like the checkpoint it replaces
        # superseded round's blocks free NOW: at most two mass versions
        # ever hold storage
        ckpt.release(prev)
    tele_n, init_n = _tele_init_for("node")
    if summed is None:  # iters == 0: the init vector is the answer
        ranks = nodes.select("node", init_n.alias("rank_micro"))
    else:
        # final mass delivery (r13): nodes is cache-partitioned on node,
        # so this join needs no exchange on the |V| side.  Broadcast
        # path: the last mass table is a checkpoint (UnknownPartitioning)
        # and ≤ 500k slim rows by the route condition — broadcast it and
        # the join is exchange-free on BOTH sides.  Shuffle path: the
        # mass cache kept its groupBy hashpartitioning(node), so
        # shuffle_hash consumes both caches exchange- and sort-free
        # (SMJ would re-sort both |V|-row sides).
        s_final = (
            F.broadcast(summed) if broadcast_ranks else summed.hint("shuffle_hash")
        )
        ranks = nodes.join(s_final, "node", "left").select(
            "node",
            (
                tele_n
                + F.round(
                    F.lit(damping) * F.coalesce(F.col("s"), F.lit(0))
                ).cast("bigint")
            ).alias("rank_micro"),
        )
    ranks = ckpt.keep(ckpt.checkpoint(ranks))
    return ranks.select(
        "node", "rank_micro", F.round(F.col("rank_micro") / 1e6, 6).alias("rank")
    )


@ckpt.scope()
def triangle_count(edges: DataFrame, a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Exact per-node triangle counts + local clustering coefficient.

    ``edges`` is an undirected edge list (any direction, duplicates and
    self-loops tolerated — canonicalized here).  Returns one row per
    node that touches at least one edge: ``(node, degree, triangles,
    clustering_ppm)`` with ``clustering_ppm =
    round(1e6 * 2*triangles / (degree*(degree-1)))`` (0 for degree 1).

    Spark-first design — the degree-ordered orientation (Schank &
    Wagner 2005): each undirected edge is directed from the
    lower-``(degree, node)`` endpoint to the higher, so every triangle
    ``{u,v,w}`` is enumerated exactly once as the wedge
    ``u→v, u→w`` closed by ``v→w``.  Out-degrees under this orientation
    are O(sqrt(m)), which bounds the wedge join — the standard
    at-scale triangle algorithm (vs. the naive 3-cycle join whose
    wedge set explodes on hubs).  Three shuffles total: degree agg,
    wedge self-join on the low vertex, closure join on ``(v, w)``.
    """
    # The canonical edge set fans out into FOUR consumers (degree agg,
    # orientation join, closure join — and degree itself into the
    # orientation twice and the final projection), and the wedge
    # self-join squares the replication: unpersisted, the r12 plan
    # carried the ENTIRE upstream edge derivation 140 times (280
    # parquet scans / 281 Exchanges / 140 Generates for the token-graph
    # query, zero reuse in the initial plan — runtime stage-reuse kept
    # it from exploding, but planning itself was O(copies), guide §3.3
    # "very wide plans: materialise intermediates").  Persisting e and
    # deg collapses the plan to one edge build + the three triangle
    # shuffles; both caches release before return (result checkpointed
    # per the dedup cache contract).
    e = ckpt.persist(
        edges.select(F.col(a_col).cast("string").alias("x"), F.col(b_col).cast("string").alias("y"))
        .where(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
        )
        .distinct()
    )
    deg = ckpt.persist(
        e.select(F.col("u").alias("node"))
        .unionAll(e.select("v"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # orient by (degree, node) rank
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    ranked = e.join(du, "u").join(dv, "v")
    fwd = F.col("du") < F.col("dv")
    tie = (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    directed = ranked.select(
        F.when(fwd | tie, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd | tie, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    w1 = directed.select(F.col("src").alias("p"), F.col("dst").alias("q"))
    w2 = directed.select(F.col("src").alias("p"), F.col("dst").alias("r"))
    wedges = w1.join(w2, "p").where(F.col("q") < F.col("r"))
    # closure: wedges carry q < r, and e is the canonical (min,max)
    # undirected set — one join against it checks edge existence
    closer = e.select(F.col("u").alias("q"), F.col("v").alias("r"))
    tris = wedges.join(closer, ["q", "r"])  # rows (p, q, r): one per triangle
    per_node = (
        tris.select(F.col("p").alias("node"))
        .unionAll(tris.select("q"))
        .unionAll(tris.select("r"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = ckpt.checkpoint(
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.when(F.col("degree") < 2, F.lit(0))
            .otherwise(
                F.round(
                    2000000.0
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1))
                ).cast("bigint")
            )
            .alias("clustering_ppm"),
        )
    )
    return ckpt.keep(out)


@ckpt.scope()
def neighbor_jaccard_join(
    left: DataFrame,
    right: DataFrame,
    threshold_ppm: int = 100_000,
    k: int = 10,
    max_df: int | None = None,
) -> DataFrame:
    """Graph-neighborhood similarity join: candidate pairs whose
    relation-neighbor SETS overlap (Jaccard), the set-similarity
    counterpart of the reference's relational token blocking
    (``/root/reference/src/klinker/blockers/relation_aware.py``) with
    the neighborhood itself as the signature.

    ``left``/``right``: ``(id, nbr)`` edge lists (entity → neighbor).
    Returns per left entity the top-``k`` right entities with
    ``jaccard_ppm = round(1e6 * |A∩B| / (|A|+|B|-|A∩B|)) >=
    threshold_ppm``; ties break by ``right_id`` ascending.

    Scale shape: an inverted-index join on the shared neighbor (one
    shuffle each side), per-pair intersection counts via group-by —
    never an all-pairs product.  ``max_df`` drops neighbors shared by
    more than ``max_df`` entities per side (the TF-IDF ``max_df``
    valve): a hub neighbor contributes |L_hub|x|R_hub| candidate rows
    and near-zero similarity signal; the cap is logged via the
    returned plan, not silent — pairs lose only hub evidence.
    """
    # persist both edge lists: each side fans out into THREE consumers
    # (hub-valve aggregate, per-entity size aggregate, inverted-index
    # join) — without the cache the upstream edge derivation (often an
    # orders⋈lineitem join) recomputes per consumer (measured 26 s →
    # ~8 s on the sf0.1 customer×supplier query).  Released before
    # return; the result is materialized per the dedup cache contract.
    #
    # Ids keep their NATIVE types through the joins/aggregates — the
    # candidate shuffle is |pairs|-sized (12 M at sf0.1) and hashing /
    # comparing bigints beats strings ~2×; only the final projection
    # casts to string (the op's type-stable output contract).
    l = ckpt.persist(
        left.select(
            F.col(left.columns[0]).alias("lid"),
            F.col(left.columns[1]).alias("nbr"),
        ).distinct()
    )
    r = ckpt.persist(
        right.select(
            F.col(right.columns[0]).alias("rid"),
            F.col(right.columns[1]).alias("nbr"),
        ).distinct()
    )
    if max_df is not None:
        hot_l = l.groupBy("nbr").agg(F.count(F.lit(1)).alias("_n")).where(F.col("_n") > max_df)
        hot_r = r.groupBy("nbr").agg(F.count(F.lit(1)).alias("_n")).where(F.col("_n") > max_df)
        hot = hot_l.select("nbr").unionAll(hot_r.select("nbr")).distinct()
        l = ckpt.persist(l.join(F.broadcast(hot), "nbr", "left_anti"))
        r = ckpt.persist(r.join(F.broadcast(hot), "nbr", "left_anti"))
    nl = l.groupBy("lid").agg(F.count(F.lit(1)).alias("na"))
    nr = r.groupBy("rid").agg(F.count(F.lit(1)).alias("nb"))
    common = (
        l.join(r, "nbr")
        .groupBy("lid", "rid")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    scored = (
        # size joins: AQE broadcasts whichever side fits (nl/nr are
        # entity-sized — broadcastable at bench scale, shuffleable at
        # 100 TB; no forced broadcast so neither regime breaks)
        common.join(nl, "lid")
        .join(nr, "rid")
        .select(
            "lid",
            "rid",
            F.round(
                1000000.0 * F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
            )
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
        .where(F.col("jaccard_ppm") >= threshold_ppm)
    )
    from pyspark.sql import Window

    # tie-break on the STRING form of rid regardless of input type —
    # the documented contract (and the SQL oracle) order lexically
    w = Window.partitionBy("lid").orderBy(
        F.col("jaccard_ppm").desc(), F.col("rid").cast("string")
    )
    out = ckpt.checkpoint(
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            F.col("lid").cast("string").alias("lid"),
            F.col("rid").cast("string").alias("rid"),
            "jaccard_ppm",
            F.col("rk").cast("int").alias("rk"),
        )
    )
    return ckpt.keep(out)


@ckpt.scope()
def label_propagation(
    edges: DataFrame, a_col: str = "a", b_col: str = "b", iters: int = 4
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan
    et al. 2007), made fully deterministic: every node starts as its
    own label; each round it adopts the most frequent label among its
    neighbors, ties broken by smallest label.  Fixed ``iters``
    synchronous rounds (the asynchronous/randomized variant of the
    paper converges faster but is irreproducible — wrong trade for a
    value-checked pipeline).

    Returns ``(node, community)`` for every non-isolated node.

    Scale shape: per round one join (adjacency × labels, both hash-
    partitioned on the node key) and one count aggregate + window
    arg-max — the same bounded-iteration contract as :func:`pagerank`;
    adjacency materializes once, label tables are 2 slim columns.
    """
    from pyspark.sql import Window

    e = (
        edges.select(
            F.col(a_col).cast("string").alias("x"), F.col(b_col).cast("string").alias("y")
        )
        .where(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v"))
        .distinct()
    )
    # loop-invariant adjacency: checkpointed at toy scale; above the
    # size gate a cached copy PRE-PARTITIONED on the join key (r12, the
    # pagerank lesson — localCheckpoint erases outputPartitioning in
    # Spark 4, which re-shuffled |adj| on nbr every round at SMJ scale;
    # below the gate the label table broadcasts and the checkpoint's
    # truncated lineage wins — see ITER_PARTITIONED_EDGE_MIN's A/B)
    adj0 = ckpt.checkpoint(
        e.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(e.select(F.col("v"), F.col("u")))
    )
    adj = adj0
    if adj0.count() > ITER_PARTITIONED_EDGE_MIN:
        spark = edges.sparkSession
        try:
            part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            part = spark.sparkContext.defaultParallelism
        adj = ckpt.persist(adj0.repartition(part, "nbr"))
        adj.count()
    labels = adj.select("node").distinct().withColumn("lab", F.col("node"))
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), "lab")
    for _ in range(iters):
        nbr_lab = labels.select(F.col("node").alias("nbr"), "lab")
        prev = labels
        labels = ckpt.checkpoint(
            adj.join(nbr_lab, "nbr")
            .groupBy("node", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "lab")
        )
        ckpt.release(prev)
    return ckpt.keep(labels).select("node", F.col("lab").alias("community"))


@ckpt.scope()
def k_core(
    edges: DataFrame, k: int, rounds: int = 6, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Fixed-round k-core peeling: repeatedly delete nodes of degree
    < ``k`` (and their edges); after ``rounds`` synchronous passes,
    return the surviving nodes with their residual degree.

    With enough rounds this is the exact k-core (the densely-connected
    backbone — e.g. the customer/part interaction core worth keeping
    when budgeting candidate pairs); a fixed ``rounds`` keeps the
    computation deterministic and oracle-checkable.  Callers wanting
    the true fixpoint compare ``rounds`` and ``rounds+1`` outputs
    (equal ⇒ converged) — peeling cascades longer than ~6 rounds are
    rare outside adversarial chains.

    Scale: per round one degree aggregate + two semi-joins on the
    surviving-node set; edge table shrinks monotonically; per-round
    ``localCheckpoint`` bounds lineage (the :func:`pagerank`
    contract).

    Ids ride in their NATIVE type (guide §2.3 narrower types): every
    per-round shuffle (degree aggregate + the semi-join build sides)
    hashes/compares the node id, and a tagged-bigint caller pays ~3×
    the bytes if the ids are re-widened to strings here.  The
    ``least``/``greatest`` canonicalization differs between orderings,
    but the UNDIRECTED pair set after ``distinct`` — and hence every
    degree count and peel — is representation-invariant.  Mixed-type
    endpoint columns fall back to the old string form.
    """
    if edges.schema[a_col].dataType != edges.schema[b_col].dataType:
        edges = edges.select(
            F.col(a_col).cast("string").alias(a_col),
            F.col(b_col).cast("string").alias(b_col),
            *[c for c in edges.columns if c not in (a_col, b_col)],
        )
    e = ckpt.checkpoint(
        edges.select(F.col(a_col).alias("x"), F.col(b_col).alias("y"))
        .where(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v"))
        .distinct()
    )
    for _ in range(rounds):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select("v"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("node")
        prev = e
        e = ckpt.checkpoint(
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
        )
        ckpt.release(prev)
    ckpt.keep(e)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select("v"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )
    return deg.where(F.col("core_degree") >= k)


@ckpt.scope()
def bfs_distances(
    edges: DataFrame,
    sources: list[str],
    max_depth: int = 4,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Multi-source breadth-first search: minimum hop distance from any
    node in ``sources`` over the undirected graph, capped at
    ``max_depth`` (nodes further away are absent).

    Classic distributed frontier expansion: per level ONE equi-join
    frontier⋈edges + a distinct + a left-anti against the settled set —
    the frontier never holds more than the new level's nodes, and a
    level that comes up empty short-circuits the loop.  Per-level
    ``localCheckpoint`` bounds lineage (the :func:`pagerank` contract).
    A fixed ``max_depth`` keeps the operator deterministic and
    oracle-checkable against a depth-bounded recursive CTE (which
    stays polynomial because (node, dist) pairs dedup per level).
    """
    spark = edges.sparkSession
    # native-typed ids (see k_core); the seed frame inherits the edge
    # column's type
    e = (
        edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    e = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    # loop-invariant edges: checkpointed at toy scale; above the size
    # gate a cached copy pre-partitioned on the per-level join key
    # (r12, the pagerank lesson) — each frontier expansion then joins
    # the cached layout exchange-free instead of re-shuffling |E| per
    # level, while below the gate the frontier broadcasts and the
    # checkpoint's truncated lineage wins (ITER_PARTITIONED_EDGE_MIN)
    e0 = ckpt.checkpoint(e)
    e = e0
    if e0.count() > ITER_PARTITIONED_EDGE_MIN:
        try:
            part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            part = spark.sparkContext.defaultParallelism
        e = ckpt.persist(e0.repartition(part, "u"))
        e.count()
    node_type = e.schema["u"].dataType.simpleString()
    dist = ckpt.checkpoint(
        spark.createDataFrame([(s, 0) for s in sources], f"node {node_type}, dist INT")
    )
    frontier = dist
    for d in range(1, max_depth + 1):
        nxt = ckpt.checkpoint(
            frontier.join(e, frontier["node"] == e["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .withColumn("dist", F.lit(d))
        )
        if nxt.isEmpty():
            break
        new_dist = ckpt.checkpoint(dist.unionAll(nxt))
        # the consumed frontier (last level's nxt) and the superseded
        # settled set free now; in round 1 they are the same frame
        if frontier is not dist:
            ckpt.release(frontier)
        ckpt.release(dist)
        dist, frontier = new_dist, nxt
    return ckpt.keep(dist)


@ckpt.scope()
def hits(
    edges: DataFrame,
    iters: int = 2,
    a_col: str = "c",
    b_col: str = "p",
) -> DataFrame:
    """Fixed-iteration integer HITS (Kleinberg 1999) over a bipartite
    edge list: hubs = left column, authorities = right column.

    Authorities start at 1e6; each iteration computes hub scores as
    neighbor sums then L1-normalizes to ppm with the integer half-up
    ratio ``(2e6·s + T) // (2T)`` (no float accumulation — the same
    lane as pagerank's micro units), then the symmetric authority
    update.  Fixed ``iters`` keeps it deterministic and unrollable as
    an oracle.

    Scale: per iteration two equi-joins + two aggregates on the edge
    partitioning; the L1 totals are one-row frames cross-joined
    (broadcast); per-iteration ``localCheckpoint`` bounds lineage (the
    pagerank contract).  Score sums stay under int64 while
    1e6·max_degree·2e6 < 9.2e18 — i.e. max degree ≲ 4.6e6, far past
    any blocking graph; beyond that, swap the ratio into decimal(38).

    Returns ``(node, kind, score_ppm)`` — hubs tagged 'hub',
    authorities 'auth'; both L1-normalized to ≈1e6 total.
    """
    if iters < 1:
        raise ValueError(f"hits() needs iters >= 1, got {iters}")
    # loop-invariant edges, joined on BOTH endpoints each iteration
    # (hub update on p, authority update on c).  Above the size gate:
    # TWO persisted copies, each pre-partitioned on its join key (r12,
    # the pagerank lesson — a checkpointed edge table re-shuffled |E|
    # twice per iteration under SortMergeJoin; two slim cached layouts
    # join exchange-free, the GraphX both-directions trade), which
    # saves 2·iters |E| shuffles for 2 builds.  Below the gate the
    # score tables broadcast anyway (the edge side streams map-side,
    # exchange-free already), so the r11 localCheckpoint shape is kept:
    # lineage truncated, per-round plans stay tiny (see the gate
    # constant's A/B — a plain cached copy was measured strictly worse
    # than the checkpoint at toy scale).
    e0 = ckpt.checkpoint(
        edges.select(F.col(a_col).alias("c"), F.col(b_col).alias("p")).distinct()
    )
    n_edges = e0.count()
    if n_edges > ITER_PARTITIONED_EDGE_MIN:
        spark = edges.sparkSession
        try:
            part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            part = spark.sparkContext.defaultParallelism
        e_by_p = ckpt.persist(e0.repartition(part, "p"))
        e_by_p.count()
        e_by_c = ckpt.persist(e0.repartition(part, "c"))
        e_by_c.count()
        ckpt.release(e0)
    else:
        e_by_p = e_by_c = e0
    a = (
        e_by_p.select("p")
        .distinct()
        .withColumn("score", F.lit(1_000_000).cast("bigint"))
    )
    hn = None
    for _ in range(iters):
        h = e_by_p.join(a, "p").groupBy("c").agg(F.sum("score").alias("s"))
        tot_h = h.agg(F.sum("s").alias("tot"))
        prev_h = hn
        hn = ckpt.checkpoint(
            h.crossJoin(F.broadcast(tot_h))
            .select("c", F.expr("(2000000 * s + tot) div (2 * tot)").alias("score"))
        )
        ckpt.release(prev_h)
        a2 = e_by_c.join(hn, "c").groupBy("p").agg(F.sum("score").alias("s"))
        tot_a = a2.agg(F.sum("s").alias("tot"))
        prev_a = a
        a = ckpt.checkpoint(
            a2.crossJoin(F.broadcast(tot_a))
            .select("p", F.expr("(2000000 * s + tot) div (2 * tot)").alias("score"))
        )
        ckpt.release(prev_a)
    ckpt.keep(hn)
    ckpt.keep(a)
    return hn.select(
        F.col("c").alias("node"), F.lit("hub").alias("kind"), F.col("score").alias("score_ppm")
    ).unionAll(
        a.select(F.col("p"), F.lit("auth"), F.col("score"))
    )
