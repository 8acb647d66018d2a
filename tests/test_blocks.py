"""BlockManager stats / pairs / combine goldens, ported from the
reference's ``tests/test_blocks.py:20-90`` fixture values.
"""

from __future__ import annotations

import pytest

from klinker_spark.data.blocks import BlockManager

from conftest import SF_DIR, blocks_as_dict, jobs_in_group

BLOCKS_DICT = {
    2: (["3"], ["3", "5"]),
    4: (["4"], ["5"]),
    5: (["4"], ["4"]),
    6: (["4", "5"], ["4"]),
    7: (["5"], ["4"]),
    10: (["1", "2"], ["2"]),
    11: (["2"], ["2"]),
}


@pytest.fixture()
def blocks(spark):
    return BlockManager.from_dict(spark, BLOCKS_DICT)


def test_block_sizes(blocks):
    sized = {r["block_key"]: r["assignments"] for r in blocks.with_sizes().collect()}
    assert sized == {"2": 3, "4": 2, "5": 2, "6": 3, "7": 2, "10": 3, "11": 2}


def test_statistics(blocks):
    row = blocks.statistics().collect()[0]
    assert row["n_blocks"] == 7
    assert row["total_assignments"] == 17
    # mean block size over both sides: 17/7
    assert (row["total_assignments"] / row["n_blocks"]) == pytest.approx(2.4285714285714284)
    # reference pair list has 10 entries (duplicates kept)
    assert row["total_comparisons"] == 10


def test_all_pairs_with_duplicates(blocks):
    pairs = sorted(tuple(r) for r in blocks.pairs(distinct=False).collect())
    expected = sorted(
        [
            ("3", "3"),
            ("3", "5"),
            ("4", "5"),
            ("4", "4"),
            ("4", "4"),
            ("5", "4"),
            ("5", "4"),
            ("1", "2"),
            ("2", "2"),
            ("2", "2"),
        ]
    )
    assert pairs == expected


def test_combine(spark, blocks):
    other = BlockManager.from_dict(
        spark, {6: BLOCKS_DICT[6], 4: (["1", "2"], ["5"]), 20: (["5"], ["7"])}
    )
    expected = {str(k): (set(v[0]), set(v[1])) for k, v in BLOCKS_DICT.items()}
    expected["4"] = ({"1", "2", "4"}, {"5"})
    expected["20"] = ({"5"}, {"7"})
    assert blocks_as_dict(blocks.combine(other)) == expected


def test_find_blocks(blocks):
    keys = {r["block_key"] for r in blocks.find_blocks("4").collect()}
    assert keys == {"4", "5", "6", "7"}
    keys_left = {r["block_key"] for r in blocks.find_blocks("4", side="A").collect()}
    assert keys_left == {"4", "5", "6"}


def test_purge_keeps_small_blocks(spark):
    # 20 blocks of cardinality 1, 10 of cardinality 2, one giant block.
    # Walking blocks by ascending comparison count, the rounded
    # cumulative CC plateaus when the cardinality-2 run starts
    # (cc 2.0 -> 1.95, equal at round 0), setting the purge threshold
    # at 2 comparisons: the giant block must be dropped.
    d = {f"k{i:02d}": ([f"a{i}"], [f"b{i}"]) for i in range(20)}
    for i in range(10):
        d[f"m{i}"] = ([f"c{i}"], [f"d{i}", f"e{i}"])
    d["giant"] = ([f"a{i}" for i in range(50)], [f"b{i}" for i in range(50)])
    bm = BlockManager.from_dict(spark, d)
    purged = blocks_as_dict(bm.purge(cc_round=0))
    assert "giant" not in purged
    assert len(purged) == 30


def test_read_nn_wide_reference_layout(spark, tmp_path):
    """The reference's NN parquet (dask wide frame: index = left id,
    one scalar column per neighbor slot, None padding — blocks.py:
    374-381, 466-527) must sniff into block form with nulls dropped."""
    import pandas as pd

    from klinker_spark.data.blocks import BlockManager

    path = str(tmp_path / "nn")
    pdf = pd.DataFrame(
        {"0": ["b1", "b2", "b9"], "1": ["b7", None, "b3"]},
        index=pd.Index(["a1", "a2", "a3"]),
    )
    pdf.to_parquet(path)  # pandas stores the index like dask does
    bm = BlockManager.read_parquet(spark, path, "L", "R")
    got = {
        r["block_key"]: (list(r["L"]), sorted(r["R"])) for r in bm.df.collect()
    }
    assert got == {
        "a1": (["a1"], ["b1", "b7"]),
        "a2": (["a2"], ["b2"]),  # None slot dropped
        "a3": (["a3"], ["b3", "b9"]),
    }


def test_composite_parquet_roundtrip(spark, tmp_path, blocks):
    """blocks/ + nn_blocks/ two-subdir layout (reference
    CompositeWithNNBasedKlinkerBlockManager, blocks.py:560-652):
    written by CompositeBlockManager, sniffed back on read, pairs
    chain both parts."""
    import pandas as pd

    from klinker_spark.data.blocks import BlockManager, CompositeBlockManager

    root = str(tmp_path / "composite")
    nn_src = str(tmp_path / "nn_src")
    pd.DataFrame({"0": ["b8"]}, index=pd.Index(["a9"])).to_parquet(nn_src)
    nn = BlockManager.read_parquet(spark, nn_src, "A", "B")
    comp = CompositeBlockManager(blocks, nn)
    comp.to_parquet(root)
    back = BlockManager.read_parquet(spark, root, "A", "B")
    assert isinstance(back, CompositeBlockManager)
    base_pairs = {tuple(r) for r in blocks.pairs().collect()}
    got = {tuple(r) for r in back.pairs().collect()}
    assert got == base_pairs | {("a9", "b8")}


def _km(spark, left_rows, right_rows):
    from klinker_spark.session import local_df

    return BlockManager.from_key_assignments(
        local_df(spark, left_rows, "block_key string, id string"),
        local_df(spark, right_rows, "block_key string, id string"),
        "A",
        "B",
        assume_distinct=True,
    )


def test_key_combine_matches_array_combine_with_one_sided_keys(spark):
    """Regression: raw (block_key, id) assignments are one SIDE of an
    inner join — a key held on only one side of a manager is an
    assignment but never a block.  The key-level combine must filter
    those out before unioning, or they pair up with the OTHER manager's
    one-sided assignments as phantom blocks (lesson 14)."""
    # key "x" is left-only in bm1 and right-only in bm2 — a phantom
    # block if raw frames were unioned; "k" is a real block in both.
    bm1 = _km(spark, [("k", "a1"), ("x", "a9")], [("k", "b1")])
    bm2 = _km(spark, [("k", "a2")], [("k", "b2"), ("x", "b9")])
    key_pairs = {tuple(r) for r in bm1.combine(bm2).block_pairs().collect()}
    arr_pairs = {
        tuple(r)
        for r in BlockManager(bm1.df, "A", "B")
        .combine(BlockManager(bm2.df, "A", "B"))
        .block_pairs()
        .collect()
    }
    assert key_pairs == arr_pairs
    assert ("x", "a9", "b9") not in key_pairs
    assert key_pairs == {
        ("k", "a1", "b1"),
        ("k", "a1", "b2"),
        ("k", "a2", "b1"),
        ("k", "a2", "b2"),
    }
    # the combined manager's array view matches the array path too
    assert blocks_as_dict(bm1.combine(bm2)) == blocks_as_dict(
        BlockManager(bm1.df, "A", "B").combine(BlockManager(bm2.df, "A", "B"))
    )


def test_covered_ids_excludes_one_sided_assignments(spark):
    """covered_ids must report only entities in actual blocks: a9/b9
    hold one-sided values and stay uncovered for the composite
    anti-join."""
    bm = _km(spark, [("k", "a1"), ("x", "a9")], [("k", "b1"), ("y", "b9")])
    assert {r["id"] for r in bm.covered_ids("A").collect()} == {"a1"}
    assert {r["id"] for r in bm.covered_ids("B").collect()} == {"b1"}
    # array-layout path agrees
    arr = BlockManager(bm.df, "A", "B")
    assert {r["id"] for r in arr.covered_ids("A").collect()} == {"a1"}


def test_effective_key_manager_keeps_semantics(spark):
    """Raw key frames keep one-sided keys; ``effective_keys()`` filters
    them out, and a manager built on the filtered frames with
    ``keys_effective=True`` describes the same blocks."""
    bm = _km(spark, [("k", "a1"), ("x", "a9")], [("k", "b1")])
    assert not bm.keys_effective  # raw frames: one-sided keys stay in
    assert {tuple(r) for r in bm.block_pairs().collect()} == {("k", "a1", "b1")}
    assert blocks_as_dict(bm) == {"k": ({"a1"}, {"b1"})}
    lk, rk = bm.effective_keys()
    eff = BlockManager(None, "A", "B", lk, rk, keys_effective=True)
    assert eff.keys_effective
    assert all(a is b for a, b in zip(eff.effective_keys(), (lk, rk)))  # no second filter
    assert {r["id"] for r in eff.left_keys.collect()} == {"a1"}
    assert {tuple(r) for r in eff.block_pairs().collect()} == {("k", "a1", "b1")}


def test_combine_all_falls_back_to_array_path_for_df_layout(spark):
    """ADVICE r9: combine_all on a mix of key-framed and array-layout
    managers (from_dict / read_parquet) must not assume key frames —
    it falls back to the chained array combine."""
    km = _km(spark, [("k", "a1")], [("k", "b1")])
    arr = BlockManager.from_dict(spark, {"k": (["a2"], ["b2"]), "m": (["a3"], ["b3"])})
    out = BlockManager.combine_all([km, arr])
    assert blocks_as_dict(out) == {
        "k": ({"a1", "a2"}, {"b1", "b2"}),
        "m": ({"a3"}, {"b3"}),
    }
    # pure array-layout input works too
    out2 = BlockManager.combine_all([arr, BlockManager.from_dict(spark, {"m": (["a4"], [])})])
    assert blocks_as_dict(out2)["m"] == ({"a3", "a4"}, {"b3"})


def test_combine_name_mismatch_raises(spark):
    """ADVICE r9: combine_all merges sides by name, not position — a
    swapped-orientation manager must raise, not silently cross sides."""
    bm1 = _km(spark, [("k", "a1")], [("k", "b1")])
    bm2 = BlockManager.from_key_assignments(
        bm1.right_keys, bm1.left_keys, "B", "A", assume_distinct=True
    )
    with pytest.raises(ValueError, match="left_name"):
        BlockManager.combine_all([bm1, bm2])
    with pytest.raises(ValueError, match="left_name"):
        bm1.combine(bm2)
    with pytest.raises(ValueError, match="left_name"):
        BlockManager(bm1.df, "A", "B").combine(BlockManager(bm2.df, "B", "A"))


def test_covered_ids_unknown_side_raises(spark):
    """ADVICE r9: a typo'd side must error, not silently return the
    right frame (wrong anti-join results)."""
    bm = _km(spark, [("k", "a1")], [("k", "b1")])
    with pytest.raises(ValueError, match="unknown side"):
        bm.covered_ids("nope")
    with pytest.raises(ValueError, match="unknown side"):
        BlockManager(bm.df, "A", "B").covered_ids("nope")


def test_block_pairs_repartitions_combined_managers_too(spark):
    """The expanding key join runs on a round-robin repartitioned left
    side, a combined manager's too: its key frames are hash-partitioned
    on block_key, but one hot key would still expand in one task."""
    one = _km(spark, [("k", "a1"), ("k", "a2")], [("k", "b1")])
    n = spark.sparkContext.defaultParallelism
    for bm in (one, one.combine(_km(spark, [("k", "a3")], [("k", "b2")]))):
        plan = bm.block_pairs()._jdf.queryExecution().toString()
        assert f"RoundRobinPartitioning({n})" in plan


def test_composite_assign_is_lazy_and_cache_free(spark):
    """Every relational flow (composite, simple, relational) builds one
    lazy plan in assign: it launches no Spark job, and its terminal
    action leaves no cache behind — no persistent RDD is added, without
    any release_all.  (Compared as id sets: earlier tests' caches may be
    cleaned up meanwhile, so the count alone can fall.)"""
    from klinker_spark.blockers.composite import CompositeRelationalTokenBlocker
    from klinker_spark.blockers.relation_aware import (
        RelationalTokenBlocker,
        SimpleRelationalTokenBlocker,
    )
    from klinker_spark.queries.blocking_ml import composite_relational_inputs

    sc = spark.sparkContext
    inputs = composite_relational_inputs(spark, SF_DIR)
    for blocker in (
        CompositeRelationalTokenBlocker,
        SimpleRelationalTokenBlocker,
        RelationalTokenBlocker,
    ):
        before = set(sc._jsc.getPersistentRDDs())
        group = f"test-assign-{blocker.__name__}"
        sc.setJobGroup(group, "assign")
        try:
            bm = blocker().assign(*inputs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], blocker
        assert bm.pairs().collect()
        assert set(sc._jsc.getPersistentRDDs()) - before == set(), blocker


def test_composite_write_and_evaluation_job_counts(spark, tmp_path):
    """The composite is one side-tagged plan: its parquet write runs at
    most 10 Spark jobs (18 when each side was planned apart), and its
    final plan scans 44 parquet files (92 before: the covered-id filter
    was pushed below the own-text aggregate, splitting it from the
    unfiltered copy).  Evaluating the written array-layout blocks is one
    action of at most 8 jobs (16 with its single-row count jobs)."""
    from pyspark.sql import functions as F

    from klinker_spark.blockers.composite import CompositeRelationalTokenBlocker
    from klinker_spark.eval import Evaluation
    from klinker_spark.queries.blocking_ml import composite_relational_inputs

    left, right, left_rel, right_rel = composite_relational_inputs(spark, SF_DIR)
    bm = CompositeRelationalTokenBlocker().assign(left, right, left_rel, right_rel)
    path = str(tmp_path / "blocks")
    _, write_jobs = jobs_in_group(spark, "composite-write", lambda: bm.to_parquet(path))
    assert write_jobs <= 10

    bm.df.collect()
    plan = bm.df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert plan.count("FileScan") == 44

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    supp = spark.read.parquet(f"{SF_DIR}/supplier.parquet")
    gold = cust.join(supp, cust.c_custkey == 10 * supp.s_suppkey).select(
        F.concat(F.lit("c"), F.col("c_custkey")), F.concat(F.lit("s"), F.col("s_suppkey"))
    )
    read = BlockManager.read_parquet(spark, path)
    ev, eval_jobs = jobs_in_group(
        spark,
        "composite-eval",
        lambda: Evaluation.from_blocks(read, gold, left_count=left.ids(), right_count=right.ids()),
    )
    assert eval_jobs <= 8
    assert ev.comparisons == bm.pairs().count()


def test_simple_and_relational_blockers_share_one_side_tagged_plan(spark):
    """The simple and relational blockers run the side-tagged flow: in
    the simple flow's final plan both sides' neighbour joins read one
    own-text exchange (reused once; 0 when each side was planned apart)
    from 12 parquet scans, in at most 10 jobs (11 apart); the
    relational flow's attribute and relation branches meet in one
    combine, at most 8 jobs (11 apart)."""
    from klinker_spark.blockers.relation_aware import (
        RelationalTokenBlocker,
        SimpleRelationalTokenBlocker,
    )
    from klinker_spark.queries.blocking_ml import composite_relational_inputs

    inputs = composite_relational_inputs(spark, SF_DIR)
    final = {}
    for blocker, max_jobs in ((SimpleRelationalTokenBlocker, 10), (RelationalTokenBlocker, 8)):
        pairs = blocker().assign(*inputs).block_pairs()
        _, jobs = jobs_in_group(spark, f"plan-{blocker.__name__}", pairs.collect)
        assert jobs <= max_jobs, blocker
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        final[blocker] = plan.split("Initial Plan")[0]
    simple = final[SimpleRelationalTokenBlocker]
    assert "isFinalPlan=true" in simple
    assert simple.count("FileScan") == 12
    assert simple.count("ReusedExchange") == 1


def test_composite_pipeline_rerun_compiles_no_new_code(spark, tmp_path):
    """A rerun of the relational blocking pipeline (assign → write →
    read → evaluate) reuses the generated classes of the first run:
    Spark's codegen cache must hold one run's ~110 classes, or every
    rerun compiles all of them again (the default 100-entry LRU does).
    AQE re-plans a few stages differently depending on which stage
    finishes first; with the stage id left out of generated class names
    (``spark.sql.codegen.useIdInClassName=false``) such a re-plan reuses
    the class of identical code, so a rerun compiles 0-4 new ones."""
    from pyspark.sql import functions as F

    from klinker_spark.blockers.composite import CompositeRelationalTokenBlocker
    from klinker_spark.eval import Evaluation
    from klinker_spark.queries.blocking_ml import composite_relational_inputs
    from klinker_spark.session import codegen_compiles

    def run(path):
        left, right, left_rel, right_rel = composite_relational_inputs(spark, SF_DIR)
        cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        supp = spark.read.parquet(f"{SF_DIR}/supplier.parquet")
        gold = cust.join(supp, cust.c_custkey == 10 * supp.s_suppkey).select(
            F.concat(F.lit("c"), F.col("c_custkey")), F.concat(F.lit("s"), F.col("s_suppkey"))
        )
        CompositeRelationalTokenBlocker().assign(left, right, left_rel, right_rel).to_parquet(path)
        read = BlockManager.read_parquet(spark, path)
        return Evaluation.from_blocks(
            read, gold, left_count=left.ids(), right_count=right.ids()
        ).to_dict()

    first = run(str(tmp_path / "first"))
    before = codegen_compiles(spark)
    assert run(str(tmp_path / "second")) == first
    after = codegen_compiles(spark)
    assert after - before <= 8

