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

        One action, a union of count legs summed in one global
        aggregate (:func:`_one_pass_counts` for array layouts,
        :func:`_key_counts` for key frames, which never enumerate the
        whole pair space); each leg yields some of the pair, true
        positive, gold and entity counts.
        """
        lcol, rcol = gold.columns[:2]
        g = gold.select(
            F.col(lcol).cast("string").alias("left_id"),
            F.col(rcol).cast("string").alias("right_id"),
        )
        counts = _key_counts if blocks.left_keys is not None else _one_pass_counts
        row = counts(blocks, g, left_count, right_count, distinct)
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


def _leg(df: DataFrame, **cols) -> DataFrame:
    """``df`` as rows of the count columns ``_COUNTS`` (0 where not given)."""
    return df.select(*(cols.get(c, F.lit(0)).alias(c) for c in _COUNTS))


def _sum_legs(legs: list[DataFrame], left_count, right_count):
    """The legs, plus one row per entity of ``left_count`` /
    ``right_count`` when those are DataFrames, summed in one action."""
    if isinstance(left_count, DataFrame):
        legs.append(_leg(left_count, _nl=F.lit(1)))
    if isinstance(right_count, DataFrame):
        legs.append(_leg(right_count, _nr=F.lit(1)))
    union = functools.reduce(DataFrame.unionByName, legs)
    return union.agg(*(F.sum(c).alias(c) for c in _COUNTS)).first()


def _one_pass_counts(blocks, gold: DataFrame, left_count, right_count, distinct: bool):
    """The pair, true-positive, gold and entity counts of
    :meth:`Evaluation.from_blocks` as one row, from one action.
    ``gold``: string ``(left_id, right_id)``.

    The candidate pairs and the gold rows are grouped once by
    ``(left_id, right_id)``, each group yielding its pair count (its
    duplicates under ``distinct=False``, else 1), its true positives
    (the same count if the pair is a non-null gold link) and its gold
    count (1 if it is one)."""
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
    legs = [_leg(grouped, _n=n, _tp=F.when(is_link, n).otherwise(0), _ng=F.col("_g"))]
    return _sum_legs(legs, left_count, right_count)


def _key_counts(blocks, gold: DataFrame, left_count, right_count, distinct: bool):
    """:func:`_one_pass_counts` from the ``(block_key, id)`` key frames
    (distinct rows, so a pair occurs once per key it shares), the
    reference's ``MinimalEvaluation`` direction (``eval.py:22-141``):
    comparisons are Σ over blocks of ``|bl|·|br|``, under ``distinct``
    minus Σ ``(c − 1)`` over pairs sharing ``c`` keys, joined only from
    entities with ≥ 2 keys (none under standard blocking, which so
    enumerates no pair); true positives are the distinct gold links
    joined to a shared key, once each or once per key."""
    la = blocks.left_keys.select("block_key", F.col("id").cast("string").alias("left_id"))
    ra = blocks.right_keys.select("block_key", F.col("id").cast("string").alias("right_id"))

    def per_pair(joined: DataFrame) -> DataFrame:
        """Key-joined rows → one row per pair, ``_c`` its shared keys."""
        return joined.groupBy("left_id", "right_id").agg(F.count("*").alias("_c"))

    def multi(keys: DataFrame, id_col: str) -> DataFrame:
        """The assignments of entities with ≥ 2 keys."""
        return (
            keys.groupBy(id_col)
            .agg(F.collect_list("block_key").alias("_ks"))
            .where(F.size("_ks") >= 2)
            .select(F.explode("_ks").alias("block_key"), id_col)
        )

    def block_sizes(keys: DataFrame, name: str) -> DataFrame:
        return keys.groupBy("block_key").agg(F.count("*").alias(name))

    g = gold.distinct()  # gold is a set of links; dupes would inflate the counts
    hits = per_pair(F.broadcast(g).join(la, "left_id").join(ra, ["block_key", "right_id"]))
    legs = [
        _leg(
            block_sizes(la, "_bl").join(block_sizes(ra, "_br"), "block_key"),
            _n=F.col("_bl") * F.col("_br"),
        ),
        _leg(hits, _tp=F.lit(1) if distinct else F.col("_c")),
        _leg(g, _ng=F.lit(1)),
    ]
    if distinct:
        repeats = per_pair(multi(la, "left_id").join(multi(ra, "right_id"), "block_key"))
        legs.append(_leg(repeats, _n=1 - F.col("_c")))
    return _sum_legs(legs, left_count, right_count)


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
