"""Physical-plan regression tests — the scale properties SCALE.md
claims must survive refactors: column pruning at the scan, broadcasts
where a side is provably small, no cartesian products in the relational
kernel, codegen (not interpreted) projections."""

import io
import contextlib

import pytest
from pyspark.sql import functions as F

from klinker_spark import ckpt
from klinker_spark.queries import QUERIES


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.001"


def test_token_blocking_prunes_and_broadcasts(spark, sf_dir):
    from klinker_spark.queries import QUERIES

    plan = plan_of(QUERIES["token_blocking"](spark, sf_dir))
    # scan reads only the two needed columns per side
    assert "c_custkey:bigint,c_name:string" in plan.replace(" ", "")
    assert "s_suppkey:bigint,s_name:string" in plan.replace(" ", "")
    # small (supplier) side broadcasts; no shuffle join needed
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivf_indexed_scan_prunes_partitions(spark, sf_dir, tmp_path):
    from klinker_spark.ops.similarity import ann_topk_ivf_indexed, build_ivf_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8)
    out = ann_topk_ivf_indexed(emb.where(F.col("vec_id") % 100 == 0), path, k=3, n_probe=2)
    plan = plan_of(out)
    # probe set must reach the parquet scan as a partition filter —
    # unprobed centroid directories are never opened
    assert "PartitionFilters" in plan
    assert "centroid_id IN" in plan or "centroid_id#" in plan.split("PartitionFilters", 1)[1][:200]


def test_knn_broadcasts_index(spark, sf_dir):
    from klinker_spark.queries import QUERIES

    # default (matmul) path: no join, no sort — one Arrow scan stage.
    # A narrow query input additionally gets the r11 round-robin
    # widening before the CPU-bound kernel (a rebalance, not a key
    # shuffle — wide lake scans skip it); nothing else may shuffle.
    import re

    plan = plan_of(QUERIES["knn_topk"](spark, sf_dir))
    assert "MapInPandas" in plan
    for bad in ("Join", "Sort", "Window"):
        assert bad not in plan, f"unexpected {bad} in matmul kNN plan"
    n_exchanges = len(set(re.findall(r"\((\d+)\) Exchange", plan)))
    n_roundrobin = len(re.findall(r"RoundRobinPartitioning", plan))
    assert n_exchanges - min(n_roundrobin, 1) == 0, plan
    # expr impl keeps the deliberate broadcast cross join + pushed filter
    from klinker_spark.ops.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 10 == 0)
    eplan = plan_of(brute_force_topk(q, emb, k=5, impl="expr"))
    assert "BroadcastNestedLoopJoin" in eplan  # deliberate broadcast cross join
    assert "PushedFilters: [IsNotNull(vec_id)]" in eplan


def test_knn_blocks_run_the_kernel_once(spark):
    """Both key frames of a kNN block manager are projections of one
    group-by over the neighbour table, so exchange reuse runs the
    matmul kernel once per action."""
    from klinker_spark.embedding.blockbuilder import KNNBlockBuilder

    left = spark.createDataFrame(
        [(f"l{i}", [float(i), 1.0]) for i in range(6)], ["id", "vector"]
    )
    right = spark.createDataFrame(
        [(f"r{i}", [1.0, float(i)]) for i in range(6)], ["id", "vector"]
    )
    out = KNNBlockBuilder(k=2).build_blocks(left, right, "A", "B").pairs()
    assert len(out.collect()) == 12
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    final = final.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1, final


def test_windowed_counts_partial_aggregation(spark, sf_dir):
    from klinker_spark.queries import QUERIES

    plan = plan_of(QUERIES["windowed_event_counts"](spark, sf_dir))
    # map-side partial + final aggregate around exactly one exchange
    assert plan.count("HashAggregate") >= 2
    # column pruning: only the three needed columns reach the scan
    # (ts arrives as timestamp_ntz for TIMESTAMP(MICROS) testdata or
    # bigint for TIMESTAMP(NANOS) under nanosAsLong)
    flat = plan.replace(" ", "")
    assert (
        "ts:timestamp_ntz,event_type:string,value:double" in flat
        or "ts:bigint,event_type:string,value:double" in flat
    )


def test_sharded_knn_is_driverless(spark, sf_dir):
    """The two at-scale search paths must not collect the query side:
    the plan shows the cogrouped pandas search, and the implementation
    CODE (docstrings excluded — they may mention the round-1 bug) has no
    toPandas reference (regression for the round-1 driver-side
    broadcast of the full query set)."""
    import ast
    import inspect
    import textwrap

    from klinker_spark.functions import vectors
    from klinker_spark.ops import similarity

    def code_mentions(fn, name: str) -> bool:
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == name:
                return True
            if isinstance(node, ast.Name) and node.id == name:
                return True
        return False

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 100 == 0)
    out = vectors.topk_cosine_sharded(
        q.selectExpr("vec_id as id", "embedding as vector"),
        emb.selectExpr("vec_id as id", "embedding as vector"),
        k=3,
        n_query_chunks=2,
    )
    plan = plan_of(out)
    # index streams in place: no cogroup, no KEY Exchange below
    # MapInPandas — the only key shuffle in the whole plan is the final
    # merge window.  A narrow index input additionally gets the r11
    # round-robin widening before the CPU-bound scan (a rebalance, not
    # a key shuffle — wide lake scans skip it).
    import re

    assert "MapInPandas" in plan
    assert "FlatMapCoGroupsInPandas" not in plan
    n_exchanges = len(set(re.findall(r"\((\d+)\) Exchange", plan)))
    n_roundrobin = len(re.findall(r"RoundRobinPartitioning", plan))
    assert n_exchanges - min(n_roundrobin, 1) == 1, plan
    for fn in (vectors.topk_cosine_sharded, similarity.ann_topk_ivf_indexed):
        assert not code_mentions(fn, "toPandas"), fn.__name__


def test_importance_filter_broadcasts(spark):
    from klinker_spark.blockers.relation_aware import filter_importance, relation_importance

    rels = spark.createDataFrame(
        [("a", "r1", "b"), ("a", "r2", "c")], "head string, rel string, tail string"
    )
    imp = relation_importance(rels, 3)
    plan = plan_of(filter_importance(rels, imp, 1, "rel", "head"))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_no_python_udfs_in_relational_kernel(spark, sf_dir):
    from klinker_spark.queries import QUERIES

    for name in [
        "token_blocking",
        "relational_token_blocking",
        "ngram_jaccard_dedup",
        "minhash_dedup",
        "quality_score",
        # md5-twin family: same plan shapes, JVM-side md5 not Python
        "minhash_dedup_md5",
        "simhash_dedup_md5",
        "embedding_signlsh_dedup",
        "minhash_lsh_blocking_md5",
        "gcn_propagation_md5",
        "sinkhorn_rerank",
    ]:
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_signlsh_dedup_single_pair_shuffle(spark, sf_dir):
    from klinker_spark.queries import QUERIES

    plan = plan_of(QUERIES["embedding_signlsh_dedup"](spark, sf_dir))
    # band self-join + pair-distinct only; the distinct shuffles scalar
    # (id,id,sim) rows — the dim-d vectors never enter an Exchange
    assert "CartesianProduct" not in plan
    exch = [seg[:300] for seg in plan.split("Exchange")[1:]]
    assert all("vector" not in seg.split("\n")[0] for seg in exch)


def test_bucketed_pairs_join_skips_shuffle(spark):
    """Bucketed block storage: a pair-key join between two tables
    bucketed the same way runs with no Exchange on either side."""
    from klinker_spark.data.blocks import BlockManager

    lb = spark.createDataFrame(
        [("k1", "a1"), ("k1", "a2"), ("k2", "a3")], "block_key string, id string"
    )
    rb = spark.createDataFrame(
        [("k1", "b1"), ("k2", "b2")], "block_key string, id string"
    )
    bm = BlockManager.from_key_assignments(lb, rb, "A", "B")
    import shutil

    for t in ("pairs_bucketed", "gold_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # a stale warehouse dir with no metastore entry blocks saveAsTable
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    bm.to_bucketed_table("pairs_bucketed", n_buckets=4)
    gold = spark.createDataFrame([("a1", "b1")], "left_id string, right_id string")
    (
        gold.write.mode("overwrite")
        .bucketBy(4, "left_id", "right_id")
        .sortBy("left_id", "right_id")
        .format("parquet")
        .saveAsTable("gold_bucketed")
    )
    # force the shuffle-join path (tiny test tables would broadcast)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("pairs_bucketed").join(
            spark.table("gold_bucketed"), ["left_id", "right_id"]
        )
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        # the whole point: neither side shuffles
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_asof_join_is_union_merge_not_join(spark, sf_dir):
    """The as-of plan must be the union-merge shape: NO join operator
    at all (a join+filter formulation explodes candidates), one window
    over the per-key sort."""
    from klinker_spark.queries import QUERIES

    plan = plan_of(QUERIES["events_asof_join"](spark, sf_dir))
    assert "Window" in plan and "Union" in plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in plan, bad


def test_range_join_is_equi_join(spark, sf_dir):
    """The banded range join must plan as a hash equi-join on
    (key, band) — never a cross product or nested loop."""
    from klinker_spark.queries import QUERIES

    plan = plan_of(QUERIES["events_range_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    for bad in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in plan, bad


#: Rows-only queries DELIBERATELY rotated into the round-5 gate so the
#: driver records at least one (weaker, rows-only) row for each — every
#: exact-oracled query already has a driver record from r1-r4, these
#: nine never had any.  Every other gate slot must stay exact-oracled.
GATE_ROWS_ONLY_ALLOWED = {
    "gcn_embedding_blocking",
    "deepblocker_knn_blocking",
    "lightea_embedding_blocking",
    "attribute_clustering_blocking",
    "sif_pc_removal",
    "quality_classifier",
    "neardup_ingest_gate_fast",
    "ann_topk_ivfpq",
    "hdbscan_labels",
}


def test_gate_prefix_oracle_policy():
    """The driver's correctness gate records a fixed-size prefix of the
    registry; every slot must carry an exact DuckDB oracle unless it is
    one of the nine documented rows-only coverage rotations.  The
    curated list is EXACTLY the 50 recorded slots (r6-advice invariant:
    the list is a coverage rotation, never a demotion vehicle — names
    outside it keep natural registration order)."""
    from klinker_spark.queries import ORACLES, QUERIES, _GATE_PRIORITY

    names = list(QUERIES)
    missing = [
        n for n in names[:50] if n not in ORACLES and n not in GATE_ROWS_ONLY_ALLOWED
    ]
    assert not missing, f"gate-prefix queries without oracle: {missing}"
    unknown = [n for n in _GATE_PRIORITY if n not in QUERIES]
    assert not unknown, f"_GATE_PRIORITY names not registered: {unknown}"
    assert len(_GATE_PRIORITY) == len(set(_GATE_PRIORITY)) == 50
    # the r13 rotation is pure refresh (every registered query holds a
    # driver row; nothing red): it leads with the r8-recorded cohort
    # tail (from standard_blocking) — the oldest surviving records in
    # the ledger — then the r9 cohort; every slot is exact-oracled
    # (no rows-only twins burn a refresh slot)
    for name in (
        "standard_blocking",
        "token_blocking",
        "unique_name_blocking",
        "events_json_extract",
    ):
        assert name in _GATE_PRIORITY[:6], name
    for name in ("purge_blocks", "graph_statistics", "semdedup"):
        assert name in _GATE_PRIORITY[6:50], name
    assert all(n in ORACLES for n in _GATE_PRIORITY)


def test_curation_plan_shapes(spark, sf_dir):
    """Scale guarantees of the curation family: pii_scrub stays a pure
    codegen scan (zero exchanges), pack_sequences pays exactly one hash
    shuffle (per-group window, no global sort), stratified_sample's
    rank filter is pushed below the shuffle (partial WindowGroupLimit
    so only ≤n rows per stratum cross the wire), and the contamination
    semi-join broadcasts the benchmark n-gram set."""
    from klinker_spark.queries import QUERIES

    plan = plan_of(QUERIES["pii_scrub"](spark, sf_dir))
    assert "Exchange" not in plan and "Join" not in plan

    import re

    plan = plan_of(QUERIES["pack_sequences"](spark, sf_dir))
    # formatted mode prints each node twice (tree + detail): one shuffle
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Join" not in plan

    plan = plan_of(QUERIES["stratified_sample"](spark, sf_dir))
    assert "WindowGroupLimit" in plan.split("Exchange", 1)[1], (
        "rank limit must apply map-side (partial WindowGroupLimit below "
        "the shuffle)"
    )

    plan = plan_of(QUERIES["contamination_check"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, "benchmark n-gram set must broadcast"
    assert "CartesianProduct" not in plan

    # int8 quantization is a pure per-row projection: no shuffle at all
    plan = plan_of(QUERIES["embedding_quantize"](spark, sf_dir))
    assert "Exchange" not in plan and "Join" not in plan


def test_mixing_and_ingest_plan_shapes(spark, sf_dir):
    import re

    from klinker_spark.queries import QUERIES

    # token-budget mixing: one source-hash shuffle + window, no joins
    plan = plan_of(QUERIES["token_budget_mix"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Join" not in plan

    # incremental ingestion: history anti-joins as a broadcast
    plan = plan_of(QUERIES["incremental_ingest"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_gopher_rules_is_scan_speed(spark, sf_dir):
    """Gopher word-level rules are pure per-row expressions: zero
    exchanges, no joins, no Python — a 100 TB corpus filters at scan
    speed inside whole-stage codegen."""
    from klinker_spark.queries import QUERIES

    plan = plan_of(QUERIES["gopher_rules"](spark, sf_dir))
    for bad in ("Exchange", "Join", "BatchEvalPython", "MapInPandas"):
        assert bad not in plan, f"unexpected {bad} in gopher_rules plan"
    # the token array must stay materialized in its own projection —
    # CollapseProject re-inlining it would re-split the text per metric
    assert plan.count("filter(split(") <= 2, "tk inlined per metric"


def test_line_dedup_and_semdedup_no_cartesian(spark, sf_dir):
    from klinker_spark.queries import QUERIES

    plan = plan_of(QUERIES["line_dedup"](spark, sf_dir))
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"):
        assert bad not in plan, f"unexpected {bad} in line_dedup plan"
    # semdedup's pairwise stage must stay an equi-join on cluster_id
    plan = plan_of(QUERIES["semdedup"](spark, sf_dir))
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"):
        assert bad not in plan, f"unexpected {bad} in semdedup plan"


def test_neardup_gate_per_batch_plan_is_stateless(spark, sf_dir):
    """The near-dup gate's per-batch side must contain NO aggregation
    and NO join against the history relation — only the one-row
    bitmap broadcast — or it would carry unbounded stream state."""
    from pyspark.sql import functions as F

    from klinker_spark.streaming.dedup import (
        incremental_neardup_docs,
        neardup_band_keys,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hist = neardup_band_keys(docs.where(F.col("doc_id") % 3 == 0))
    plan = plan_of(incremental_neardup_docs(docs, hist))
    # the only join is the broadcast of the single-row word table
    assert "BroadcastNestedLoopJoin Inner BuildRight" in plan
    assert "LocalTableScan" in plan
    for bad in ("HashAggregate", "SortAggregate", "Exchange hashpartitioning",
                "SortMergeJoin", "ShuffledHashJoin"):
        assert bad not in plan, f"unexpected {bad} in near-dup gate plan"


def test_new_curation_queries_stay_jvm_side(spark, sf_dir):
    """No Python evaluation in the new analytic/dedup queries (the
    documented boundaries — normalize_text's NFC stage and semdedup's
    BLAS kernel — are Arrow mapInPandas/FlatMapGroups, never
    row-at-a-time Batch/ArrowEvalPython)."""
    from klinker_spark.queries import QUERIES

    for name in (
        "bigram_logprob",
        "cm_token_freq",
        "value_histogram",
        "edit_distance_dedup",
        "heavy_shingles",
        "line_dedup",
        "bloom_ingest_gate",
    ):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_cm_and_histogram_aggregate_shapes(spark, sf_dir):
    from klinker_spark.queries import QUERIES

    import re

    # histogram: one partial+final aggregate pair, nothing else
    plan = plan_of(QUERIES["value_histogram"](spark, sf_dir))
    assert len(set(re.findall(r"\((\d+)\) HashAggregate", plan))) == 2
    assert "Join" not in plan
    # cm estimate side: the sketch arrives as ONE broadcast row — no
    # shuffle join against the cell table
    plan = plan_of(QUERIES["cm_token_freq"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    for bad in ("SortMergeJoin", "ShuffledHashJoin"):
        assert bad not in plan, bad


def test_pq_encode_and_search_plans(spark, sf_dir):
    """PQ scale shape: encoding is a stateless zero-Exchange projection
    (expr mode: pure codegen, no Python); the ADC search's only
    exchange is the scalar-row merge window, and the codes scan is
    never shuffled before the mapInPandas search."""
    from klinker_spark.ops.pq import ann_topk_pq, pq_encode, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = pq_train(emb, m=8, k_codes=8)
    enc = pq_encode(emb, cb)
    p_enc = plan_of(enc)
    assert "Exchange" not in p_enc
    assert "BatchEvalPython" not in p_enc and "ArrowEvalPython" not in p_enc
    assert "MapInPandas" not in p_enc  # literal-budget expr mode

    import re

    q = emb.where(F.col("vec_id") < 20)
    p_search = plan_of(ann_topk_pq(q, enc, cb, k=5))
    # exactly one KEY exchange: the candidate merge into the rank
    # window.  A narrow codes input additionally gets the r10
    # round-robin widening before the CPU-bound kernel (a rebalance,
    # not a key shuffle — wide lake scans skip it); nothing else may
    # shuffle the codes.
    n_exchanges = len(set(re.findall(r"\((\d+)\) Exchange", p_search)))
    n_roundrobin = len(re.findall(r"RoundRobinPartitioning", p_search))
    assert n_exchanges - min(n_roundrobin, 1) == 1, p_search
    assert "MapInPandas" in p_search  # the scan-in-place ADC kernel
    assert "CartesianProduct" not in p_search


def test_grouped_quantiles_plan_single_aggregate(spark, sf_dir):
    """Exact per-group quantiles: one hash-partial aggregate pair, no
    Window, no Python eval — the profile runs in a single pass."""
    from klinker_spark.ops.rollup import grouped_quantiles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(grouped_quantiles(docs, ["source"], "n_chars"))
    assert "Window" not in p
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in p, bad
    # partial + final aggregate around exactly one data exchange
    import re

    assert len(set(re.findall(r"\((\d+)\) Exchange", p))) <= 2


def test_canonical_dedup_priority_plan_no_window(spark):
    """Priority survivor selection is a struct-max AGGREGATE (map-side
    partials), never a window over cluster members."""
    from klinker_spark.ops.curation import canonical_dedup

    docs = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(50)], ["doc_id", "quality"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["doc_a", "doc_b"])
    p = plan_of(canonical_dedup(docs, pairs, priority_col="quality"))
    assert "Window" not in p
    assert "CartesianProduct" not in p


def test_chunk_documents_plan_zero_exchange(spark, sf_dir):
    """Chunking is a stateless explode projection: no shuffle, no
    Python eval — a 100 TB corpus chunks at scan speed."""
    from klinker_spark.ops.curation import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(chunk_documents(docs, chunk_size=32, overlap=8))
    assert "Exchange" not in p
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "Window"):
        assert bad not in p, bad


def test_stream_interval_join_plan_no_cartesian(spark, sf_dir):
    """Batch form of the interval join: an equi-join on the key with
    the time bounds as residual conditions — never a cartesian or
    broadcast-nested-loop over the event table."""
    from klinker_spark.streaming.join import stream_interval_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = plan_of(
        stream_interval_join(
            ev.where(F.col("event_type") == "click"),
            ev.where(F.col("event_type") == "purchase"),
            horizon="5 minutes",
        )
    )
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert (
        "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p
    )


def test_profile_and_pmi_topk_is_take_ordered(spark, sf_dir):
    """key_skew_stats / pmi_bigrams select their top-k with
    TakeOrdered (per-partition selection + k-merge) — a global
    single-partition Window over the corpus-sized key table must never
    appear; the only rank windows run over the already-≤k-row result."""
    from klinker_spark.queries import QUERIES

    for name in ("key_skew_profile", "pmi_bigrams"):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, name
        assert "CartesianProduct" not in plan, name
        # the corpus-side count aggregate keeps map-side partials
        assert "partial_count" in plan, name
        # the only rank Window sits ABOVE the TakeOrdered in the
        # top-down plan TREE (the formatted details section repeats
        # node names — strip it) — its input is the ≤k-row result, so
        # its SinglePartition exchange is bounded
        tree = plan.split("\n\n(")[0]
        head, _, tail = tree.partition("TakeOrderedAndProject")
        assert "Window" in head and "Window" not in tail, name


def test_hll_single_bounded_aggregate(spark, sf_dir):
    """HLL: one corpus aggregate with map-side partials (partial_max
    before the exchange), register join broadcast (256 rows)."""
    from klinker_spark.queries import QUERIES

    plan = plan_of(QUERIES["hll_distinct_sketch"](spark, sf_dir))
    assert "partial_max" in plan or "partial max" in plan.lower()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pagerank_lineage_is_checkpoint_bounded(spark):
    """PageRank materializes each iteration (eager localCheckpoint),
    so the RETURNED plan is a flat scan of the final rank table — no
    unrolled N-iteration join tower, no cartesian product.  (The
    teleport term rides a one-row broadcast and the rank vector
    broadcasts under the size gate — exercised by the replication
    test; here we pin the lineage contract.)"""
    from klinker_spark.ops.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "head string, tail string"
    )
    plan = plan_of(pagerank(edges, iters=2))
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan  # checkpoint-backed, not a join tower
    assert "Join" not in plan


def test_salted_join_shuffles_on_key_and_salt(spark):
    """With broadcast off, the salted join's exchange partitions on
    (key, _salt) — the hot key's rows spread over n_salt partitions
    instead of funneling through one task."""
    from klinker_spark.ops.profile import salted_join

    left = spark.createDataFrame([(i, "hot") for i in range(50)], "rid int, k string")
    right = spark.createDataFrame([("hot", 1)], "k string, v int")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(salted_join(left, right, "k", n_salt=8))
        # some exchange hash-partitions on (k, _salt) together
        assert any(
            "_salt" in seg[:120] and "k#" in seg[:120]
            for seg in plan.split("hashpartitioning(")[1:]
        ), plan
        assert "CartesianProduct" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_global_rank_no_corpus_single_partition_window(spark):
    """global_rank: the only SinglePartition exchange feeds the
    per-partition-COUNT offsets window (≤ P rows); the corpus-side
    rank window partitions by the range-partition id."""
    from klinker_spark.ops.profile import global_rank

    df = spark.range(10000).selectExpr("id", "cast(id % 97 as string) k")
    plan = plan_of(global_rank(df, ["k", "id"]))
    assert plan.count("Exchange SinglePartition") <= 1
    assert "SPARK_PARTITION_ID" in plan or "_pid" in plan
    assert "CartesianProduct" not in plan


def test_round6_graph_and_bpe_plans(spark, sf_dir):
    """Round-6 operators keep the relational kernel clean: no
    cartesian products anywhere; the BPE apply join broadcasts the
    per-word subword table; triangle counting joins stay hash/broadcast
    joins (degree-ordered orientation, no all-pairs)."""
    from klinker_spark.queries import QUERIES

    for name in (
        "token_cooccurrence_triangles",
        "neighbor_jaccard_blocking",
        "token_community_labels",
        "customer_part_kcore",
        "phonetic_blocking",
        "scd2_user_state",
        "quality_classifier_calibration",
    ):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name

    plan = plan_of(QUERIES["bpe_token_count"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_scd2_single_exchange(spark):
    """Both SCD2 windows share the key partitioning: exactly one
    hashpartitioning exchange on the key."""
    from klinker_spark.ops.temporal import scd2_intervals

    df = spark.range(1000).selectExpr(
        "cast(id % 50 as string) k", "id ts", "cast(id % 3 as string) v", "id e"
    )
    plan = plan_of(scd2_intervals(df, "k", "ts", "v", "e"))
    assert plan.count("+- Exchange") == 1
    assert "CartesianProduct" not in plan


def test_phonetic_key_stays_codegen(spark):
    """The phonetic chain is pure string expressions — no Python UDF,
    no BatchEvalPython in the plan."""
    from klinker_spark.functions.text import phonetic_key

    df = spark.range(100).selectExpr("cast(id as string) w")
    plan = plan_of(df.select(phonetic_key("w").alias("k")))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_registered_query_contract(spark, sf_dir, name):
    """Every registered query, built and written (noop) inside one
    ``ckpt.scope()``:

    - emits SCALAR output columns only.  The correctness gate's
      canonicalizer (pandas sort_values over object cells) cannot
      sort/hash Python lists — the r6 hll_distinct_sketch ERR — so
      array/map/struct outputs must be reshaped (array_join / explode /
      micro-int CSV) in query AND oracle; scripts/check_oracle.py
      enforces the same refusal at gate time;
    - leaves no cache behind once the scope exits: every persist and
      checkpoint it made, in its operators or handed to the caller,
      is freed without any release_all.  (Compared as id sets: earlier
      tests' caches may be cleaned up meanwhile.)"""
    before = set(spark.sparkContext._jsc.getPersistentRDDs())
    with ckpt.scope():
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
    nested = [
        f.name for f in df.schema.fields if f.dataType.typeName() in ("array", "map", "struct")
    ]
    assert not nested, f"nested (unhashable by the correctness gate) output columns: {nested}"
    assert set(spark.sparkContext._jsc.getPersistentRDDs()) - before == set()


@pytest.mark.parametrize(
    "name",
    [
        "embedding_knn_blocking_md5",
        "deepblocker_knn_blocking_md5",
        "deepblocker_ctt_knn_md5",
        "deepblocker_hybrid_knn_md5",
    ],
)
def test_md5_knn_twins_read_their_caches(spark, sf_dir, name):
    """The md5 kNN twins return a lazy ``topk_cosine_join(impl="expr")``
    plan whose inputs they persist (its CALLER NOTE): the caches must
    outlive the return — they belong to the caller's scope — so the
    plan the write ran reads them instead of re-running the encoders
    inside the per-pair similarity."""
    with ckpt.scope():
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        assert "InMemoryTableScan" in plan_of(df)


def test_purge_no_corpus_single_partition_window(spark, sf_dir):
    """purge()'s cumulative-CC walk is one row per BLOCK (corpus-sized
    at scale): the cumsum must run as range-partitioned parallel
    windows + a broadcast offset join (the global_rank recipe), never a
    single unpartitioned Window.  Allowed SinglePartition exchanges are
    only the ≤P-row offset/threshold aggregates — the plan must carry
    the range exchange and the partition-id windows."""
    from klinker_spark.queries import QUERIES

    plan = plan_of(QUERIES["purge_blocks"](spark, sf_dir))
    assert "rangepartitioning" in plan.lower()
    assert "SPARK_PARTITION_ID" in plan or "_pid" in plan
    assert "CartesianProduct" not in plan
    # no Window node may order the block frame without a partition key:
    # every Window over (comparisons, block_key) must be keyed by _pid
    import re

    for seg in re.findall(r"Arguments: \[[^\]]*windowspecdefinition\([^\)]*\)", plan):
        if "comparisons" in seg:
            assert "_pid" in seg, seg


def test_rfm_no_unpartitioned_ntile(spark, sf_dir):
    """customer_rfm_segments' quartiles run on the distributed
    ntile_global recipe: every window over the customer frame is keyed
    by _pid (no `WindowExec: No Partition Defined` at scale)."""
    from klinker_spark.queries import QUERIES

    plan = plan_of(QUERIES["customer_rfm_segments"](spark, sf_dir))
    assert "ntile" not in plan.lower()
    assert "rangepartitioning" in plan.lower()
    import re

    for seg in re.findall(r"Arguments: \[[^\]]*windowspecdefinition\([^\)]*\)", plan):
        if any(c in seg for c in ("recency_days", "frequency", "monetary_cents")):
            assert "_pid" in seg, seg


def test_round7_operator_plan_shapes(spark, sf_dir):
    """Round-7 operators keep the kernel clean: the LM-score count
    joins are hash/broadcast (no cartesian), the bitext margin join is
    pair-keyed, TWAP pays one key shuffle before its aggregate, and the
    leakage split's contamination check is semi-join shaped."""
    from klinker_spark.queries import QUERIES

    for name in (
        "ngram_lm_perplexity",
        "bitext_margin_mining",
        "event_value_twap",
        "event_value_ohlc_hourly",
        "cross_source_dup_matrix",
        "leakage_safe_split",
        "kmv_source_overlap",
        "golden_records",
        "perplexity_bucket_mix",
    ):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name

    # OHLC: ONE aggregate pipeline — no window, no join
    plan = plan_of(QUERIES["event_value_ohlc_hourly"](spark, sf_dir))
    assert "Window" not in plan and "Join" not in plan

    # kcenter returns the k selected rows as a local relation — the
    # heavy work ran during construction (per-round checkpoint scans)
    from klinker_spark.ops.similarity import kcenter_sample

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = kcenter_sample(emb, k=3)
    assert out.count() == 3


def test_bucketed_join_no_shuffle(spark, sf_dir):
    """The bucketed orders x lineitem join must read both sides
    pre-partitioned: both scans plan as bucketed, and NO shuffle on
    the join key may appear anywhere (at tiny SF Catalyst may still
    pick a broadcast join — also shuffle-free — so the invariant is
    'no hashpartitioning exchange on the order key', not a specific
    join operator)."""
    from klinker_spark.queries import QUERIES

    plan = plan_of(QUERIES["bucketed_join_revenue"](spark, sf_dir))
    assert plan.count("Bucketed: true") == 2, plan[:2000]
    assert plan.count("SelectedBucketsCount: 16 out of 16") == 2
    for key in ("o_orderkey", "l_orderkey"):
        assert f"Exchange hashpartitioning({key}" not in plan, key


def test_round8_layout_and_olap_plans(spark, sf_dir):
    """Round-8 additions keep the kernel clean: the grouping-sets
    rollup expands ONCE inside a single aggregate (one fact scan for
    all four granularities), the compaction planner is a bare
    scan+aggregate (no join/window over the payload), and the shard
    audit's grand total comes back as a broadcast one-row join, never
    a single-partition window."""
    from klinker_spark.queries import QUERIES

    plan = plan_of(QUERIES["revenue_grouping_sets"](spark, sf_dir))
    assert plan.count("+- Expand") == 1, plan[:2000]  # ONE Expand node in the tree
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan

    plan = plan_of(QUERIES["compaction_plan"](spark, sf_dir))
    assert "Join" not in plan and "Window" not in plan

    plan = plan_of(QUERIES["shard_balance_audit"](spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # one-row total, broadcast
    assert "CartesianProduct" not in plan


def test_lsh_audit_plan_bounded(spark, sf_dir):
    """The LSH quality audit must stay candidate-bounded: no
    CartesianProduct anywhere (the sample's all-pairs lane is a
    broadcast nested-loop over the tiny hash sample, which is the
    deliberate bounded shape), and the Jaccard verification must be
    JVM-side array_intersect, not Python."""
    from klinker_spark.queries import QUERIES

    plan = plan_of(QUERIES["lsh_precision_recall_audit"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_ecdf_windows_source_partitioned(spark, sf_dir):
    """per_source_score_ecdf must never plan a corpus-wide window:
    both its rank and count windows partition by source."""
    from klinker_spark.queries import QUERIES

    plan = plan_of(QUERIES["per_source_score_ecdf"](spark, sf_dir))
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_composite_blocking_stays_key_level(spark, sf_dir):
    """The composite flow's terminal pairs plan must never build an
    array cell: no collect_set aggregate and no explode — key-level
    combine unions the assignment tables and joins them directly
    (SCALE.md 'pairs, not arrays')."""
    from klinker_spark.queries import QUERIES

    out = QUERIES["composite_relational_blocking"](spark, sf_dir)
    plan = plan_of(out)
    low = plan.lower()
    # no array-cell merge (array_union = the array-layout combine) and
    # no collect_set over the assignment tables (collect_set(id...));
    # concat_values' per-entity collect_set(value) and tokenize's
    # explode are legitimate and stay
    assert "array_union" not in low
    assert "collect_set(id" not in low and "collect_set(left_id" not in low
    assert "cartesianproduct" not in low


def test_every_python_kernel_site_is_widened_or_waived():
    """Structural widening gate (r10 verdict #2): the round-10 audit
    widened 9 CPU-bound Python kernel inputs but MISSED the two exact
    kNN kernels — the same narrow-input class it was fixing.  This
    test makes the audit a regression gate: every ``.mapInPandas(`` /
    ``.applyInPandas(`` call site in ``klinker_spark/`` must either
    route its input through ``widen_for_kernel`` (on the same
    statement or within the preceding few lines) or carry an explicit
    ``# narrow-ok:`` waiver comment stating why rebalancing is wrong
    there (grouped/cogrouped keys are semantic, kernel is not
    CPU-bound, input widened by the only caller, ...)."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "klinker_spark"
    pat = re.compile(r"\.(mapInPandas|applyInPandas)\(")
    lookback = 6
    offenders = []
    for path in sorted(root.rglob("*.py")):
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            if not pat.search(line):
                continue
            window = lines[max(0, i - lookback) : i + 1]
            if any("widen_for_kernel" in ln for ln in window):
                continue
            if any("# narrow-ok:" in ln for ln in window):
                continue
            offenders.append(f"{path.relative_to(root.parent)}:{i + 1}: {line.strip()}")
    assert not offenders, (
        "Python kernel sites missing widen_for_kernel or a '# narrow-ok:' waiver:\n"
        + "\n".join(offenders)
    )


def test_widen_for_kernel_lineage_rules(spark, sf_dir, tmp_path):
    """r11 ADVICE pair: (a) scan width is decided by Spark's file-
    PACKING formula, not raw file count — many tiny part files coalesce
    into shared splits via openCostInBytes padding; (b) non-scan
    lineage is no longer repartitioned unconditionally — an
    already-wide cache/checkpoint (a stand-in for a lake-scale cached
    index) passes through untouched, preserving topk_cosine_sharded's
    never-shuffle-the-index contract, while narrow materialized frames
    and small derived frames still widen."""
    from klinker_spark.session import widen_for_kernel

    target = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # (a) many tiny files != wide: with ``files.minPartitionNum`` low
    # (a user session tuned for few-but-large scans), Spark's packing
    # formula coalesces more-part-files-than-cores into ONE split via
    # openCostInBytes bins — the old len(inputFiles) >= cores test
    # passed such a scan through and the kernel ran narrow (r11
    # ADVICE); the split-count estimate must widen it.
    tiny = str(tmp_path / "tiny")
    docs.limit(64).repartition(target + 4).write.parquet(tiny)
    scan = spark.read.parquet(tiny)
    assert len(scan.inputFiles()) >= target
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try:
        assert scan.rdd.getNumPartitions() < target  # Spark really packs
        widened = widen_for_kernel(scan)
        assert widened is not scan
        assert widened.rdd.getNumPartitions() >= target
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")

    # (b) wide materialized lineage passes through with its own
    # partitioning (no exchange), narrow materialized lineage widens
    wide_cache = docs.repartition(target * 2).cache()
    try:
        wide_cache.count()
        passed = widen_for_kernel(wide_cache.select("doc_id"))
        assert passed.rdd.getNumPartitions() == target * 2
    finally:
        wide_cache.unpersist()
    narrow_ckpt = docs.coalesce(1).localCheckpoint(eager=True)
    assert narrow_ckpt.rdd.getNumPartitions() == 1
    rewidened = widen_for_kernel(narrow_ckpt.select("doc_id"))
    assert rewidened.rdd.getNumPartitions() >= target

    # (c) an explicitly pre-widened derived frame is not re-shuffled
    # (idempotence: widen(widen(x)) adds no second exchange) ...
    once = widen_for_kernel(docs.groupBy("source").count())
    again = widen_for_kernel(once)
    assert again is once
    # ... while small join-derived lineage still repartitions (join
    # stats are never trusted for a pass-through)
    joined = docs.join(docs.select("doc_id"), "doc_id")
    assert widen_for_kernel(joined) is not joined


def test_token_cap_antijoin_broadcasts_without_aqe(spark):
    """r11 ADVICE: the max_block_size anti-join relies on AQE's runtime
    broadcast conversion; on a user session with AQE disabled it must
    fall back to the static hint, or the whole token-assignment table
    shuffles on block_key — the very hot keys the cap absorbs."""
    from klinker_spark.blockers.token import TokenBlocker

    rows = [(i, f"tok{i % 3} shared common words here {i}") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, text string")
    blocker = TokenBlocker(max_block_size=5)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        toks = blocker._tok_keys(df)
        plan = toks._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan
        assert "SortMergeJoin" not in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_sharded_knn_size_gated_fallthrough(spark, sf_dir):
    """r11 verdict #4: with all sharding knobs at defaults, a
    tiny-index topk_cosine_sharded call routes to the matmul kernel
    (no side-channel write, no merge window); shrinking the broadcast
    threshold re-pins the sharded shape, and explicit knobs always pin
    it."""
    from klinker_spark.functions import vectors

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 100 == 0)
    qa = q.selectExpr("vec_id as id", "embedding as vector")
    ia = emb.selectExpr("vec_id as id", "embedding as vector")

    routed = vectors.topk_cosine_sharded(qa, ia, k=3)
    plan = plan_of(routed)
    assert "MapInPandas" in plan and "Window" not in plan  # matmul shape

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
    try:
        pinned = vectors.topk_cosine_sharded(qa, ia, k=3)
        assert "Window" in plan_of(pinned)  # sharded merge window
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    explicit = vectors.topk_cosine_sharded(qa, ia, k=3, n_query_chunks=1)
    assert "Window" in plan_of(explicit)

    # ranking identical across the routed and pinned shapes; sims
    # equal to 1e-9 (the documented matmul/sharded contract — BLAS
    # shape can move the last ulp, and the registered query rounds
    # to 6 decimals anyway)
    a = {(r["query_id"], r["neighbor_id"], r["rank"]): r["sim"] for r in routed.collect()}
    b = {(r["query_id"], r["neighbor_id"], r["rank"]): r["sim"] for r in explicit.collect()}
    assert a.keys() == b.keys()
    assert all(abs(a[k] - b[k]) < 1e-9 for k in a)
