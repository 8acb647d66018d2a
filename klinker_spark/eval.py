"""Blocking evaluation — recall / precision / F1 / reduction ratio / h3r.

Reference: ``/root/reference/src/klinker/eval.py:144-326`` (``Evaluation``),
``eval.py:22-141`` (``MinimalEvaluation`` — the join-based scalable
variant), and the reference's own PySpark port ``spark_eval.py:1-40``,
which is already the target shape: all counters are join-counts (J9/A9),
never a driver-side pair materialization.

Duplicate-pair semantics (SURVEY §4 delta 2): ``Evaluation`` counts a
pair once per block it appears in (``eval.py:201-215``) while
``spark_eval.py:35`` deduplicates.  ``distinct`` exposes both; default
True (the join-based / spark_eval behavior).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .data.blocks import BlockManager

__all__ = ["Evaluation", "harmonic_mean", "dice", "compare_blockings", "retrieval_metrics", "rbo_overlap"]


def harmonic_mean(a: float, b: float) -> float:
    """``eval.py:15-19``."""
    return 2 * a * b / (a + b) if (a + b) > 0 else 0.0


@dataclass(frozen=True)
class Evaluation:
    """Scalar quality metrics of a blocking vs gold links."""

    true_positives: int
    false_positives: int
    false_negatives: int
    comparisons: int
    left_count: int
    right_count: int

    @classmethod
    def from_blocks(
        cls,
        blocks: BlockManager,
        gold: DataFrame,
        left_count: "int | DataFrame",
        right_count: "int | DataFrame",
        distinct: bool = True,
    ) -> "Evaluation":
        """``gold``: 2 columns ``(left_id, right_id)`` (any names —
        positionally mapped, as ``eval.py:168-179`` maps block column
        names).  All counters are join-counts, never a driver-side pair
        materialization.

        ``left_count`` / ``right_count`` accept the entity DataFrames
        themselves, counted inside the same action.

        One action in general: the candidate pairs and the gold rows
        are grouped once by ``(left_id, right_id)``, each group yielding
        its pair count (its duplicates under ``distinct=False``, else 1),
        its true positives (the same count if the pair is a non-null
        gold link) and its gold count (1 if it is one); those rows and
        one row per entity of ``left_count`` / ``right_count`` are legs
        of one union, summed in one global aggregate.  The key path
        (``distinct`` and key frames) takes two: the keys-per-entity
        probe, then the counts.
        """
        lcol, rcol = gold.columns[:2]
        g = gold.select(
            F.col(lcol).cast("string").alias("left_id"),
            F.col(rcol).cast("string").alias("right_id"),
        )
        if distinct and blocks.left_keys is not None:
            g = g.distinct()  # gold is a set of links; dupes would inflate the counts
            small = g.agg(F.count("*").alias("_ng"))
            if isinstance(left_count, DataFrame):
                small = small.crossJoin(left_count.agg(F.count("*").alias("_nl")))
            if isinstance(right_count, DataFrame):
                small = small.crossJoin(right_count.agg(F.count("*").alias("_nr")))
            # Assignment-frame fast path (the reference's
            # MinimalEvaluation direction, ``eval.py:22-141``, taken to
            # its join-only conclusion): a gold pair is COVERED iff the
            # two sides share ≥ 1 block key — an assignments join
            # linear in |gold|·keys-per-entity, so TP/FN never touch
            # the |blocks|² pair space.  When either side assigns every
            # entity at most ONE key (standard blocking — checked with
            # one cheap aggregate), cross-block duplicate pairs cannot
            # exist, so the distinct comparison count is plain
            # Σ|bl|·|br| from the per-block sizes — the 126 s → 3 s
            # sf1 fix: the only remaining pair-space scan is the
            # genuinely multi-key distinct count, and FP stays
            # comparisons − TP by definition.
            la = blocks.left_keys.select(
                "block_key", F.col("id").cast("string").alias("left_id")
            )
            ra = blocks.right_keys.select(
                "block_key", F.col("id").cast("string").alias("right_id")
            )
            kmax = (
                la.groupBy("left_id").count().agg(F.max("count").alias("_ml"))
                .crossJoin(
                    ra.groupBy("right_id").count().agg(F.max("count").alias("_mr"))
                )
                .first()
            )
            single_key = (kmax["_ml"] or 0) <= 1 or (kmax["_mr"] or 0) <= 1
            covered = (
                F.broadcast(g)
                .join(la, "left_id")
                .join(ra, ["block_key", "right_id"])
                .select("left_id", "right_id")
                .distinct()
            )
            tp_agg = covered.agg(F.count("*").alias("_tp"))
            if single_key:
                n_agg = (
                    la.groupBy("block_key").agg(F.count("*").alias("_bl"))
                    .join(ra.groupBy("block_key").agg(F.count("*").alias("_br")), "block_key")
                    .agg(F.sum(F.col("_bl") * F.col("_br")).alias("_n"))
                )
            else:
                n_agg = blocks.pairs(distinct=True).agg(F.count("*").alias("_n"))
            row = tp_agg.crossJoin(n_agg).crossJoin(small).first()
        else:
            row = _one_pass_counts(blocks, g, left_count, right_count, distinct)
        n_pairs, tp, n_gold = int(row["_n"] or 0), int(row["_tp"] or 0), int(row["_ng"] or 0)
        if isinstance(left_count, DataFrame):
            left_count = int(row["_nl"] or 0)
        if isinstance(right_count, DataFrame):
            right_count = int(row["_nr"] or 0)
        return cls(
            true_positives=tp,
            false_positives=n_pairs - tp,
            false_negatives=n_gold - tp,
            comparisons=n_pairs,
            left_count=left_count,
            right_count=right_count,
        )

    # --- metrics (formulas: eval.py:253-326 / spark_eval.py:6-19) ---
    @property
    def recall(self) -> float:
        d = self.true_positives + self.false_negatives
        return self.true_positives / d if d else 0.0

    @property
    def precision(self) -> float:
        d = self.true_positives + self.false_positives
        return self.true_positives / d if d else 0.0

    @property
    def f_measure(self) -> float:
        return harmonic_mean(self.recall, self.precision)

    @property
    def reduction_ratio(self) -> float:
        total = self.left_count * self.right_count
        return 1.0 - (self.comparisons / total) if total else 0.0

    @property
    def h3r(self) -> float:
        return harmonic_mean(self.reduction_ratio, self.recall)

    @property
    def pairs_completeness(self) -> float:
        return self.recall

    def to_dict(self) -> dict:
        return {
            "recall": self.recall,
            "precision": self.precision,
            "f_measure": self.f_measure,
            "reduction_ratio": self.reduction_ratio,
            "h3r": self.h3r,
            "pairs_completeness": self.pairs_completeness,
            "true_positives": self.true_positives,
            "false_positives": self.false_positives,
            "false_negatives": self.false_negatives,
            "comparisons": self.comparisons,
        }


_COUNTS = ("_n", "_tp", "_ng", "_nl", "_nr")


def _one_pass_counts(blocks, gold: DataFrame, left_count, right_count, distinct: bool):
    """The pair, true-positive, gold and entity counts of
    :meth:`Evaluation.from_blocks` as one row, from one action.
    ``gold``: string ``(left_id, right_id)``."""

    def leg(df: DataFrame, **cols) -> DataFrame:
        return df.select(*(cols.get(c, F.lit(0)).alias(c) for c in _COUNTS))

    ids = [F.col(c).cast("string").alias(c) for c in ("left_id", "right_id")]
    grouped = (
        blocks.block_pairs()
        .select(*ids, F.lit(1).alias("_p"), F.lit(0).alias("_g"))
        .unionByName(gold.select("*", F.lit(0).alias("_p"), F.lit(1).alias("_g")))
        .groupBy("left_id", "right_id")
        .agg(F.sum("_p").alias("_p"), F.max("_g").alias("_g"))
    )
    n = F.least(F.col("_p"), F.lit(1)) if distinct else F.col("_p")
    is_link = (F.col("_g") == 1) & F.col("left_id").isNotNull() & F.col("right_id").isNotNull()
    legs = [leg(grouped, _n=n, _tp=F.when(is_link, n).otherwise(0), _ng=F.col("_g"))]
    if isinstance(left_count, DataFrame):
        legs.append(leg(left_count, _nl=F.lit(1)))
    if isinstance(right_count, DataFrame):
        legs.append(leg(right_count, _nr=F.lit(1)))
    union = functools.reduce(DataFrame.unionByName, legs)
    return union.agg(*(F.sum(c).alias(c) for c in _COUNTS)).first()


def dice(n_a: int, n_b: int, n_common: int) -> float:
    """Dice coefficient over set sizes (``eval.py:329-331``)."""
    return 2 * n_common / (n_a + n_b) if (n_a + n_b) else 0.0


def compare_blockings(
    blocks_a: BlockManager,
    blocks_b: BlockManager,
    gold: DataFrame,
) -> dict:
    """Compare two blockings' true-positive sets (E9,
    ``eval.py:329-507``): dice overlap of TPs, pairs found by only one
    side, and the combined recall — all as join-counts, no driver sets.
    """
    lcol, rcol = gold.columns[:2]
    g = gold.select(
        F.col(lcol).cast("string").alias("left_id"),
        F.col(rcol).cast("string").alias("right_id"),
    )
    tp_a = blocks_a.pairs(distinct=True).join(g, ["left_id", "right_id"], "inner")
    tp_b = blocks_b.pairs(distinct=True).join(g, ["left_id", "right_id"], "inner")
    n_a, n_b = tp_a.count(), tp_b.count()
    n_common = tp_a.intersect(tp_b).count()
    n_gold = g.count()
    n_union = n_a + n_b - n_common
    return {
        "tp_a": n_a,
        "tp_b": n_b,
        "tp_common": n_common,
        "tp_dice": dice(n_a, n_b, n_common),
        "only_a": n_a - n_common,
        "only_b": n_b - n_common,
        "recall_a": n_a / n_gold if n_gold else 0.0,
        "recall_b": n_b / n_gold if n_gold else 0.0,
        "combined_recall": n_union / n_gold if n_gold else 0.0,
    }


def retrieval_metrics(run: DataFrame, gold: DataFrame, k: int = 10) -> DataFrame:
    """Per-query ranked-retrieval quality of ``run`` against ``gold``
    (binary relevance — a gold doc is relevant, anything else is not):
    recall@k, reciprocal rank, and NDCG@k.  The evaluation half of the
    retrieval family (BM25 / RRF / two-stage ANN), complementing the
    blocking-oriented :class:`Evaluation`.

    Inputs carry ``(query_id, neighbor_id, rank)``; ``run`` rows with
    ``rank > k`` are ignored.  Output, one row per GOLD query (queries
    the run missed entirely score zeros):
    ``(query_id, n_gold, n_hit, rr, dcg, idcg, ndcg)`` — ``rr`` is
    ``1/rank`` of the first relevant hit; ``dcg = Σ 1/log2(rank+1)``
    over relevant hits, summed in RANK ORDER via a fold over the
    sorted rank array (shuffle-order-free, engine-exact at the 6-dp
    rounding); ``idcg`` is the same sum over ranks ``1..min(n_gold,
    k)``.

    Plan: one equi-join on (query_id, neighbor_id), one per-query
    aggregate, one broadcast-size output — linear in the run size, no
    corpus access.
    """
    hits = (
        run.where(F.col("rank") <= k)
        .join(gold.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.sort_array(F.collect_list("rank")).alias("ranks"))
    )
    per_gold = gold.groupBy("query_id").agg(F.count("*").alias("n_gold"))
    dcg_of = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, r: acc + F.lit(1.0) / F.log2(r.cast("double") + 1.0)
    )
    ideal = F.sequence(F.lit(1), F.least(F.col("n_gold"), F.lit(k)))
    joined = per_gold.join(hits, "query_id", "left").select(
        "query_id",
        "n_gold",
        F.coalesce(F.size("ranks"), F.lit(0)).alias("n_hit"),
        F.coalesce("ranks", F.array().cast("array<int>")).alias("ranks"),
        ideal.alias("ideal"),
    )
    return joined.select(
        "query_id",
        "n_gold",
        "n_hit",
        F.round(
            F.when(F.col("n_hit") > 0, F.lit(1.0) / F.element_at("ranks", 1)).otherwise(0.0), 6
        ).alias("rr"),
        F.round(dcg_of(F.col("ranks")), 6).alias("dcg"),
        F.round(dcg_of(F.col("ideal")), 6).alias("idcg"),
        F.round(dcg_of(F.col("ranks")) / dcg_of(F.col("ideal")), 6).alias("ndcg"),
    )


def rbo_overlap(
    run_a: DataFrame,
    run_b: DataFrame,
    k: int = 10,
    p: float = 0.9,
    id_col: str = "doc_id",
) -> DataFrame:
    """Rank-Biased Overlap (Webber, Moffat, Zobel 2010) between two
    rankings per query, truncated at depth ``k`` with extrapolated
    tail: ``RBO = ((1-p)/p)·Σ_{d≤k} (X_d/d)·p^d + (X_k/k)·p^k`` where
    ``X_d`` is the overlap of the two depth-``d`` prefixes.  The
    top-weighted way to compare two RANKERS (BM25 vs fused, exact vs
    ANN) without gold labels — complement of
    :func:`retrieval_metrics`.

    A doc at ranks ``(a, b)`` in the two lists joins every prefix
    ``d ≥ max(a, b)``, so its total contribution is the SUFFIX sum of
    the per-depth weights from ``max(a, b)`` — precomputed in Python
    and injected as literals, so no runtime ``pow`` (libm-free:
    bit-identical on any engine).  Per query: one equi-join, one
    sorted-fold aggregate.

    Output: ``(query_id, x_k, rbo)`` for every query in EITHER run
    (one-sided queries score 0).
    """
    w = [((1.0 - p) / p) * p**d / d for d in range(1, k + 1)]
    suffix = [sum(w[m - 1 :]) for m in range(1, k + 1)]  # suffix[m-1] = Σ_{d≥m} w_d
    tail = p**k / k
    a = run_a.where(F.col("rank") <= k).select(
        "query_id", F.col(id_col).alias("_id"), F.col("rank").alias("ra")
    )
    b = run_b.where(F.col("rank") <= k).select(
        "query_id", F.col(id_col).alias("_id"), F.col("rank").alias("rb")
    )
    m = a.join(b, ["query_id", "_id"]).select(
        "query_id", F.greatest("ra", "rb").alias("m")
    )
    qs = a.select("query_id").union(b.select("query_id")).distinct()
    per = m.groupBy("query_id").agg(F.sort_array(F.collect_list("m")).alias("ms"))
    sfx = F.array(*[F.lit(x) for x in suffix])
    score = F.aggregate(
        F.col("ms"),
        F.lit(0.0),
        lambda acc, mm: acc + F.element_at(sfx, mm),
    ) + F.size("ms") * F.lit(tail)
    return (
        qs.join(per, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.size("ms"), F.lit(0)).alias("x_k"),
            F.coalesce("ms", F.array().cast("array<int>")).alias("ms"),
        )
        .select("query_id", "x_k", F.round(score, 6).alias("rbo"))
    )
