"""Evaluation metric goldens, ported from the reference's
``tests/test_eval.py:75-110`` (hand-computed 8x7 toy numbers).
"""

from __future__ import annotations

import pytest

from klinker_spark.data.blocks import BlockManager
from klinker_spark.eval import Evaluation

from conftest import SF_DIR, jobs_in_group

GOLD = [(f"A:{i}", f"B:{i}") for i in range(1, 8)]

EXAMPLE = {
    "b1": (["A:1", "A:2"], ["B:1"]),
    "b2": (["A:3", "A:2", "A:4"], ["B:4", "B:5"]),
    "b3": (["A:6"], ["B:5", "B:7"]),
}

NOTHING_FOUND = {
    "b1": (["A:1", "A:2"], ["B:4"]),
    "b2": (["A:3", "A:2", "A:4"], ["A:1", "A:5"]),
    "b3": (["A:6"], ["A:5", "A:7"]),
}


@pytest.fixture()
def gold(spark):
    return spark.createDataFrame(GOLD, ["left_id", "right_id"])


def test_quality(spark, gold):
    blocks = BlockManager.from_dict(spark, EXAMPLE)
    e = Evaluation.from_blocks(blocks, gold, left_count=8, right_count=7)
    assert e.true_positives == 2
    assert e.false_negatives == 5
    assert e.false_positives == 8
    assert e.recall == pytest.approx(0.2857142857142857)
    assert e.precision == pytest.approx(0.2)
    assert e.f_measure == pytest.approx(0.23529411764705882)
    assert e.reduction_ratio == pytest.approx(0.8214285714285714)
    assert e.h3r == pytest.approx(0.42396313364055294)


def test_quality_dataframe_counts(spark, gold):
    # passing the entity tables instead of ints folds |L|/|R|/|gold|
    # into one driver action and must yield identical metrics
    blocks = BlockManager.from_dict(spark, EXAMPLE)
    left = spark.createDataFrame([(f"A:{i}",) for i in range(8)], ["id"])
    right = spark.createDataFrame([(f"B:{i}",) for i in range(7)], ["id"])
    e = Evaluation.from_blocks(blocks, gold, left_count=left, right_count=right)
    ref = Evaluation.from_blocks(blocks, gold, left_count=8, right_count=7)
    assert e == ref


def test_quality_nothing(spark, gold):
    blocks = BlockManager.from_dict(spark, NOTHING_FOUND)
    e = Evaluation.from_blocks(blocks, gold, left_count=8, right_count=7)
    assert e.true_positives == 0
    assert e.false_negatives == 7
    assert e.false_positives == 10
    assert e.recall == 0.0
    assert e.f_measure == 0.0
    assert e.reduction_ratio == pytest.approx(0.8214285714285714)
    assert e.h3r == 0.0


def test_retrieval_metrics_fixture(spark):
    """Hand-computed recall/RR/NDCG on a 2-query fixture, including a
    query the run missed entirely."""
    import math

    from klinker_spark.eval import retrieval_metrics

    run = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 99, 3), (2, 77, 1)],
        "query_id int, neighbor_id int, rank int",
    )
    gold = spark.createDataFrame(
        [(1, 11, 1), (1, 10, 2), (1, 12, 3), (2, 20, 1), (3, 30, 1)],
        "query_id int, neighbor_id int, rank int",
    )
    out = {r["query_id"]: r.asDict() for r in retrieval_metrics(run, gold, k=10).collect()}
    assert set(out) == {1, 2, 3}
    # q1: hits at run ranks 1 and 2 out of 3 gold
    assert out[1]["n_gold"] == 3 and out[1]["n_hit"] == 2
    assert out[1]["rr"] == 1.0
    dcg = 1 / math.log2(2) + 1 / math.log2(3)
    idcg = sum(1 / math.log2(i + 1) for i in (1, 2, 3))
    assert out[1]["dcg"] == round(dcg, 6)
    assert out[1]["idcg"] == round(idcg, 6)
    assert out[1]["ndcg"] == round(dcg / idcg, 6)
    # q2: retrieved but nothing relevant; q3: not retrieved at all
    for q in (2, 3):
        assert out[q]["n_hit"] == 0 and out[q]["rr"] == 0.0
        assert out[q]["dcg"] == 0.0 and out[q]["ndcg"] == 0.0
        assert out[q]["idcg"] == 1.0  # single gold item


def test_rbo_overlap_fixture(spark):
    """Hand-computed RBO on 3-deep rankings: identical lists give 1.0,
    disjoint give 0.0, partial overlap matches the closed form."""
    from klinker_spark.eval import rbo_overlap

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "query_id int, doc_id int, rank int"
    )
    a = mk([(1, 10, 1), (1, 11, 2), (1, 12, 3),
            (2, 20, 1), (2, 21, 2), (2, 22, 3),
            (3, 30, 1), (3, 31, 2), (3, 32, 3)])
    b = mk([(1, 10, 1), (1, 11, 2), (1, 12, 3),        # identical
            (2, 90, 1), (2, 91, 2), (2, 92, 3),        # disjoint
            (3, 31, 1), (3, 30, 2), (3, 33, 3)])       # swap + one new
    k, p = 3, 0.9
    out = {r["query_id"]: r.asDict() for r in rbo_overlap(a, b, k=k, p=p).collect()}
    w = [((1 - p) / p) * p**d / d for d in range(1, k + 1)]
    tail = p**k / k
    # identical prefixes: X_d = d at every depth
    exp1 = sum(d * wd for d, wd in zip((1, 2, 3), w)) + 3 * tail
    assert out[1]["x_k"] == 3 and out[1]["rbo"] == round(exp1, 6)
    assert out[2]["x_k"] == 0 and out[2]["rbo"] == 0.0
    # q3: doc30 at (1,2)->m=2, doc31 at (2,1)->m=2; X = (0,2,2)
    exp3 = 0 * w[0] + 2 * w[1] + 2 * w[2] + 2 * tail
    assert out[3]["x_k"] == 2 and out[3]["rbo"] == round(exp3, 6)


@pytest.mark.parametrize("distinct", [True, False])
def test_one_pass_evaluation_matches_pair_counting(spark, distinct):
    """The one-action evaluation of array-layout blocks equals counting
    the exploded pairs against the distinct gold set: pairs repeated
    across blocks (counted once per block under ``distinct=False``),
    duplicate gold rows, and null ids, which form pairs and gold rows
    but never match."""
    blocks = BlockManager.from_dict(
        spark,
        {
            "b1": (["A:1", "A:2"], ["B:1", "B:2"]),
            "b2": (["A:1", "A:3"], ["B:1"]),  # (A:1, B:1) again
            "b3": (["A:2"], ["B:2", "B:3"]),  # (A:2, B:2) again
        },
    )
    with_null = spark.createDataFrame(
        [("b4", [None, "A:4"], ["B:4"])],
        "block_key string, A array<string>, B array<string>",
    )
    blocks = BlockManager(blocks.df.unionByName(with_null), "A", "B")
    gold_rows = [
        ("A:1", "B:1"), ("A:1", "B:1"),  # duplicate gold row
        ("A:2", "B:2"), ("A:4", "B:4"), ("A:9", "B:9"),
        (None, "B:4"), (None, "B:4"),  # null gold id, also a null pair
    ]
    gold = spark.createDataFrame(gold_rows, "l string, r string")

    pairs = [
        (lid, rid)
        for _, ls, rs in [
            ("b1", ["A:1", "A:2"], ["B:1", "B:2"]),
            ("b2", ["A:1", "A:3"], ["B:1"]),
            ("b3", ["A:2"], ["B:2", "B:3"]),
            ("b4", [None, "A:4"], ["B:4"]),
        ]
        for lid in ls
        for rid in rs
    ]
    if distinct:
        pairs = list(set(pairs))
    links = set(gold_rows)
    tp = sum(1 for p in pairs if None not in p and p in links)

    left = spark.createDataFrame([(f"A:{i}",) for i in range(6)], ["id"])
    right = spark.createDataFrame([(f"B:{i}",) for i in range(5)], ["id"])
    e, jobs = jobs_in_group(
        spark,
        f"one-pass-eval-{distinct}",
        lambda: Evaluation.from_blocks(
            blocks, gold, left_count=left, right_count=right, distinct=distinct
        ),
    )
    assert jobs <= 8
    assert (e.comparisons, e.true_positives, e.false_negatives) == (
        len(pairs),
        tp,
        len(links) - tp,
    )
    assert (e.left_count, e.right_count) == (6, 5)
    assert e == Evaluation.from_blocks(blocks, gold, 6, 5, distinct=distinct)


@pytest.mark.parametrize("distinct", [True, False])
def test_key_framed_evaluation_matches_pair_counting(spark, distinct):
    """The key-frame evaluation equals counting the enumerated pairs:
    entities with several keys on both sides (pairs repeated across
    blocks, counted once per block under ``distinct=False``), one-sided
    keys, duplicate gold rows and a null gold id; and it equals the
    evaluation of the same blocks in the array layout."""
    from klinker_spark.session import local_df

    left_keys = [
        ("k1", "A:1"), ("k2", "A:1"), ("k3", "A:1"),
        ("k1", "A:2"), ("k2", "A:2"),
        ("k3", "A:3"), ("x", "A:4"),  # x: left only
    ]
    right_keys = [
        ("k1", "B:1"), ("k2", "B:1"), ("k3", "B:1"),
        ("k2", "B:2"), ("k3", "B:3"), ("y", "B:4"),  # y: right only
    ]
    blocks = BlockManager.from_key_assignments(
        local_df(spark, left_keys, "block_key string, id string"),
        local_df(spark, right_keys, "block_key string, id string"),
        "A",
        "B",
    )
    gold_rows = [
        ("A:1", "B:1"), ("A:1", "B:1"), ("A:2", "B:2"), ("A:3", "B:3"),
        ("A:4", "B:4"), (None, "B:1"),
    ]
    gold = spark.createDataFrame(gold_rows, "l string, r string")

    pairs = [(lid, rid) for k, lid in left_keys for kr, rid in right_keys if k == kr]
    if distinct:
        pairs = list(set(pairs))
    links = set(gold_rows)
    tp = sum(1 for p in pairs if p in links)

    left = spark.createDataFrame([(f"A:{i}",) for i in range(6)], ["id"])
    right = spark.createDataFrame([(f"B:{i}",) for i in range(5)], ["id"])
    e = Evaluation.from_blocks(blocks, gold, left, right, distinct=distinct)
    assert (e.comparisons, e.true_positives, e.false_negatives) == (
        len(pairs),
        tp,
        len(links) - tp,
    )
    assert (e.left_count, e.right_count) == (6, 5)
    arrays = BlockManager(blocks.df, "A", "B")
    assert e == Evaluation.from_blocks(arrays, gold, 6, 5, distinct=distinct)


def test_eval_metrics_evaluation_is_one_action(spark):
    """The ``eval_metrics`` query (standard blocking, key frames) is one
    union-of-legs action: at most 24 Spark jobs (33-34 with the
    keys-per-entity probe and a cross-joined count row)."""
    from klinker_spark.queries.relational import eval_metrics

    rows, jobs = jobs_in_group(
        spark, "eval-metrics", lambda: eval_metrics(spark, SF_DIR).collect()
    )
    assert len(rows) == 1
    assert jobs <= 24
