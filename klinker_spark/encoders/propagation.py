"""Graph-propagation frame encoders — message passing over the KG edge
list expressed as iterated join-aggregate, no torch.

Reference parity:
- ``GCNFrameEncoder`` ↔ ``/root/reference/src/klinker/encoders/gcn.py:
  108-234`` (M9): *untrained* (frozen random-weight) GCN over the merged
  relation graph, ``depth`` hops, gcn-norm with self-loops.  The
  reference runs torch sparse matmuls on a single node; sparse matmul
  IS a join + sum aggregate, so the Spark form distributes the same
  math with no collect.
- ``LightEAEncoder`` ↔ the faithful three-view LightEA propagation
  (``encoders/light_ea.py:117-248``, M12): forward/reverse relation
  split, ent-ent adjacency with degree diagonal, rel←heads and
  ent←rels views, per-hop eps-norms, depth-concat + final normalize.
- ``RelationAwarePropagationEncoder`` ↔ the same design point,
  simplified variant kept for cheap relation-conditioned blocking:
  messages are modulated component-wise by a hash-derived unit vector
  per relation name — relation semantics influence the embedding
  without any trained parameters.

Scale design (the reason for the *long* layout): features are held as
``(id, dim, val)`` rows, NOT ``array<float>`` cells, during
propagation.  Each hop is then

    edges ⨝ feat ON tail=id  →  groupBy (head, dim) sum(val·w)

— a plain codegen'd HashAggregate with map-side partial aggregation.
A hub node's messages spread over ``dim`` aggregation keys instead of
forming one giant ``collect_list`` cell, and AQE's skew handling sees
ordinary shuffle keys.  Arrays are materialized once, at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..data.frames import reverse_rel
from .hashing import HashingWordEmbedder, initialize_and_fill

__all__ = [
    "propagate",
    "GCNFrameEncoder",
    "RelationAwarePropagationEncoder",
    "LightEAEncoder",
]


def _to_long(features: DataFrame) -> DataFrame:
    return features.select("id", F.posexplode("vector").alias("dim", "val"))


def _to_array(long: DataFrame) -> DataFrame:
    """(id, dim, val) → (id, vector) with dims in order."""
    return long.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "val"))), lambda s: s["val"]
        ).alias("vector")
    )


#: Above this dimension the per-hop aggregate uses the long
#: (id, dim, val) layout.  Measured (sf0.1 gcn_embedding_blocking,
#: dim 32, warm): wide 5.8 s vs long 4.3 s — the positional
#: ``vector[i]`` chains leave whole-stage codegen past ~16 dims, the
#: same crossover as POSITIONAL_DOT_MAX_DIM (functions/vectors.py), so
#: wide only wins at low dimension where its |E|-row (vs |E|·dim-row)
#: aggregate keys dominate.
PROPAGATE_WIDE_MAX_DIM = 16


def propagate(
    features: DataFrame,
    edges: DataFrame,
    depth: int = 2,
    normalize: bool = True,
    layout: str = "auto",
    dim: int | None = None,
) -> DataFrame:
    """``depth`` hops of weighted message passing.

    ``features``: ``(id, vector array)``; ``edges``: ``(head, tail, w)``
    *directed, weights prepared by the caller* (self-loops included if
    wanted).  Messages flow tail → head.  With ``normalize`` each hop
    L2-normalizes per node (LightEA's per-round norm,
    ``light_ea.py:176-248``).

    ``layout``: ``"wide"`` keeps vectors as array cells — each hop is
    one |E|-row join + ONE HashAggregate computing ``dim`` positional
    sums (per-key agg buffer = dim doubles, map-side partials intact,
    no collect_list cells).  ``"long"`` spreads dims over aggregation
    keys — the unbounded-dim / hub-skew shape (module docstring).
    ``"auto"`` picks wide only up to ``PROPAGATE_WIDE_MAX_DIM`` dims:
    measured at dim 32 the positional array accesses leave codegen and
    wide LOSES (see the constant's note), so the crossover is low.
    """
    # dim comes from the caller (encoders know it) — probing it with a
    # .first() action would re-execute the whole upstream encoder
    # pipeline once per encode (measured +20 s cold on the sf0.1 gcn
    # blocking query)
    if layout == "auto":
        layout = (
            "wide" if dim is not None and 0 < dim <= PROPAGATE_WIDE_MAX_DIM else "long"
        )
    if layout == "wide" and not dim:
        row = features.select(F.size("vector").alias("d")).first()
        dim = int(row["d"]) if row and row["d"] is not None else 0
    # every hop reads this same ``edges`` frame: exchange reuse shuffles it once
    if layout == "wide" and dim:
        feat = features
        for _ in range(depth):
            msgs = edges.join(feat.withColumnRenamed("id", "tail"), "tail").groupBy(
                F.col("head").alias("id")
            ).agg(
                F.array(
                    *[F.sum(F.col("vector")[i] * F.col("w")) for i in range(dim)]
                ).alias("vector")
            )
            if normalize:
                n = F.sqrt(
                    F.aggregate(
                        F.col("vector"), F.lit(0.0), lambda acc, x: acc + x * x
                    )
                )
                msgs = msgs.select(
                    "id",
                    F.transform(
                        F.col("vector"),
                        lambda x: x / F.when(n > 0, n).otherwise(1.0),
                    ).alias("vector"),
                )
            feat = msgs
        return feat
    long = _to_long(features)
    for _ in range(depth):
        long = (
            edges.join(long.withColumnRenamed("id", "tail"), "tail")
            .groupBy(F.col("head").alias("id"), F.col("dim"))
            .agg(F.sum(F.col("val") * F.col("w")).alias("val"))
        )
        if normalize:
            norm = long.groupBy("id").agg(F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("_n"))
            long = long.join(norm, "id").select(
                "id", "dim", (F.col("val") / F.when(F.col("_n") > 0, F.col("_n")).otherwise(1.0)).alias("val")
            )
    return _to_array(long)


def _gcn_edges(rels: DataFrame, rel_weight=None) -> DataFrame:
    """Undirected + self-loop edge list with symmetric GCN normalization
    ``w = 1/sqrt(deg(head)·deg(tail))`` (degrees include the self-loop),
    the norm the reference ports from pyg (``gcn.py:30-105``)."""
    und = rels.select("head", "rel", "tail").unionByName(
        reverse_rel(rels).select("head", "rel", "tail")
    )
    ids = und.select(F.col("head").alias("id")).union(und.select("tail")).distinct()
    loops = ids.select(
        F.col("id").alias("head"), F.lit("_self_").alias("rel"), F.col("id").alias("tail")
    )
    all_e = und.unionByName(loops)
    deg = all_e.groupBy("head").agg(F.count("*").alias("deg"))
    e = (
        all_e.join(deg, "head")
        .join(
            deg.select(F.col("head").alias("tail"), F.col("deg").alias("deg_t")), "tail"
        )
        .select(
            "head",
            "rel",
            "tail",
            (F.lit(1.0) / F.sqrt(F.col("deg") * F.col("deg_t"))).alias("w"),
        )
    )
    return e


class GCNFrameEncoder:
    """Untrained GCN-style relational encoder (M9/M10/M11).

    ``encode(conc, rels)``: attribute text → base vectors
    (``attr_encoder``, default :class:`HashingWordEmbedder`); every
    graph node missing from the attribute frame gets a deterministic
    hash-init vector (``initialize_and_fill``, M10); then ``depth``
    gcn-normalized hops.
    """

    def __init__(
        self,
        depth: int = 2,
        dim: int = 32,
        seed: int = 42,
        attr_encoder=None,
        hash_fn: str = "xxhash64",
    ):
        self.depth = depth
        self.dim = dim
        self.seed = seed
        self.hash_fn = hash_fn  # governs the M10 init; "md5" = cross-engine mode
        self.attr_encoder = attr_encoder or HashingWordEmbedder(
            dim=dim, seed=seed, hash_fn=hash_fn
        )

    def _edges(self, rels: DataFrame) -> DataFrame:
        return _gcn_edges(rels).select("head", "tail", "w")

    def _features0(self, conc: DataFrame, rels: DataFrame) -> DataFrame:
        """Attribute vectors for every graph node, hash-init where the
        attribute frame has none (M10)."""
        attr_vec = self.attr_encoder.encode(conc)
        ids = (
            conc.select("id")
            .union(rels.select(F.col("head").alias("id")))
            .union(rels.select(F.col("tail").alias("id")))
            .distinct()
        )
        return initialize_and_fill(ids, attr_vec, self.dim, self.seed, self.hash_fn)

    def encode(self, conc: DataFrame, rels: DataFrame) -> DataFrame:
        feat0 = self._features0(conc, rels)
        return propagate(
            feat0, self._edges(rels), depth=self.depth, normalize=False, dim=self.dim
        )


class RelationAwarePropagationEncoder(GCNFrameEncoder):
    """LightEA-flavored propagation (M12, simplified): each message is
    modulated by a per-relation hash vector before aggregation, and
    every hop L2-normalizes.  The relation table is tiny (distinct
    relation names) and folds into the edge list as a scalar weight per
    (edge, dim) — implemented by scaling inside the long-format join.
    """

    def encode(self, conc: DataFrame, rels: DataFrame) -> DataFrame:
        from .hashing import token_vector_expr

        feat0 = self._features0(conc, rels)

        edges = _gcn_edges(rels)  # (head, rel, tail, w)
        rel_dims = (
            edges.select("rel")
            .distinct()
            .select(
                "rel",
                F.posexplode(
                    token_vector_expr(F.col("rel"), self.dim, self.seed, self.hash_fn)
                ).alias("dim", "rv"),
            )
        )
        long = _to_long(feat0)
        for _ in range(self.depth):
            msgs = (
                edges.join(long.withColumnRenamed("id", "tail"), "tail")
                .join(F.broadcast(rel_dims), ["rel", "dim"])
                .groupBy(F.col("head").alias("id"), F.col("dim"))
                .agg(F.sum(F.col("val") * F.col("w") * F.col("rv")).alias("val"))
            )
            norm = msgs.groupBy("id").agg(
                F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("_n")
            )
            long = msgs.join(norm, "id").select(
                "id",
                "dim",
                (F.col("val") / F.when(F.col("_n") > 0, F.col("_n")).otherwise(1.0)).alias("val"),
            )
        return _to_array(long)


class LightEAEncoder(GCNFrameEncoder):
    """Faithful LightEA three-view propagation (M12,
    ``encoders/light_ea.py:117-248``), training-free.

    Graph transform (``_transform_graph``): every triple becomes a
    forward edge under relation ``rel>`` and a reverse edge under
    ``rel<`` (the reference's ``2r`` / ``2r+1`` split), deduplicated.
    Three sparse views are built from the unique directed triples:

    - ``ent_ent``: adjacency with multiplicity — (h,t) weighted by the
      number of directed relations between them, diagonal (i,i)
      weighted by i's total degree;
    - ``rel_ent``: relation → its distinct head entities;
    - ``ent_rel``: entity → the distinct relations it receives.

    Per hop (``_get_features``):

        rel'  = norm(rel_ent @ ent)              # relation from heads
        ent'  = norm(ent_ent @ ent + ent_rel @ rel)   # rel is the hop-
                                                      # PREVIOUS one
                                                      # (zeros at hop 1)

    with ``norm(x) = x / (||x||₂ + 1e-8)`` (``_my_norm``).  The output
    concatenates [initial, hop 1, …, hop depth] per entity —
    ``(depth+1)·dim`` components — and final-normalizes by
    ``max(||x||₂, 1e-12)`` (torch ``F.normalize``).

    Spark shape: the three views are plain DataFrames; every sparse
    matmul is a join + HashAggregate over the long ``(id, dim, val)``
    layout (module docstring), so hub rows spread over ``dim`` keys and
    nothing is collected.

    ``include_initial=False`` is the reference's
    ``only_use_neighbor_info=True`` (the composite hybrid setting,
    ``hybrid.py:117-168``): the concat skips the hop-0 attribute
    features and keeps only propagated hops.
    """

    def __init__(self, *args, include_initial: bool = True, **kwargs):
        super().__init__(*args, **kwargs)
        self.include_initial = include_initial

    def encode(self, conc: DataFrame, rels: DataFrame) -> DataFrame:
        feat0 = self._features0(conc, rels)

        trip = (
            rels.select(
                "head", "tail", F.concat(F.col("rel"), F.lit(">")).alias("r")
            )
            .unionByName(
                rels.select(
                    F.col("tail").alias("head"),
                    F.col("head").alias("tail"),
                    F.concat(F.col("rel"), F.lit("<")).alias("r"),
                )
            )
            .distinct()
        )
        ee = (
            trip.select(F.col("head").alias("src"), F.col("tail").alias("dst"))
            .unionAll(trip.select(F.col("head").alias("src"), F.col("head").alias("dst")))
            .unionAll(trip.select(F.col("tail").alias("src"), F.col("tail").alias("dst")))
            .groupBy("src", "dst")
            .agg(F.count("*").cast("double").alias("w"))
        )
        rel_ent = trip.select("r", F.col("head").alias("id")).distinct()
        ent_rel = trip.select(F.col("tail").alias("id"), "r").distinct()

        def l2(df: DataFrame, key: str) -> DataFrame:
            n = df.groupBy(key).agg(
                (F.sqrt(F.sum(F.col("val") * F.col("val"))) + F.lit(1e-8)).alias("_n")
            )
            return df.join(n, key).select(
                key, "dim", (F.col("val") / F.col("_n")).alias("val")
            )

        ent = _to_long(feat0)
        rel_feat: DataFrame | None = None
        stages = [ent] if self.include_initial else []
        for hop in range(self.depth):
            new_rel = l2(
                rel_ent.join(ent, "id")
                .groupBy("r", "dim")
                .agg(F.sum("val").alias("val")),
                "r",
            )
            msgs = (
                ee.join(ent.withColumnRenamed("id", "dst"), "dst")
                .groupBy(F.col("src").alias("id"), "dim")
                .agg(F.sum(F.col("w") * F.col("val")).alias("val"))
            )
            if rel_feat is not None:
                from_rel = (
                    ent_rel.join(rel_feat, "r")
                    .groupBy("id", "dim")
                    .agg(F.sum("val").alias("val"))
                )
                msgs = (
                    msgs.unionByName(from_rel)
                    .groupBy("id", "dim")
                    .agg(F.sum("val").alias("val"))
                )
            ent = l2(msgs, "id")
            rel_feat = new_rel
            stages.append(ent)

        parts = [
            s.select("id", (F.col("dim") + i * self.dim).alias("dim"), "val")
            for i, s in enumerate(stages)
        ]
        cat = parts[0]
        for p in parts[1:]:
            cat = cat.unionByName(p)
        fn = cat.groupBy("id").agg(
            F.greatest(
                F.sqrt(F.sum(F.col("val") * F.col("val"))), F.lit(1e-12)
            ).alias("_n")
        )
        out = cat.join(fn, "id").select(
            "id", "dim", (F.col("val") / F.col("_n")).alias("val")
        )
        return _to_array(out)
