"""Benchmark of the engine's registered queries.

A lane builds one registered query and forces it with the noop sink.
:func:`run_lane` runs it inside one ``ckpt.scope()`` under its own job
group and returns its run record: build, noop-write (``action``) and
``wall`` seconds; the lane's jobs and the sums over their non-skipped
stages; its generated-code compiles; the JVM heap at its start; and the
persistent RDDs it left behind (0 unless a cache escaped its owner).  A
wall-time jump with unchanged jobs, stages and executor CPU is host
noise, not code.

``SECTIONS`` run at ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 testdata)
and ``$SPARK_GRAFT_SF1_DIR`` (generated if missing; skipped with
``SPARK_GRAFT_SKIP_SF1=1``), each run cold after a GC.  A headline lane
then runs again at once (the warm lap), an ``ISOLATED`` lane three times
(median recorded); sf1 adds two streaming lanes.

Prints ONE JSON line (headline total and walls, ``sf``, section totals)
sized for a 2000-char stdout tail; the full record, every run record
under ``lanes``, goes to BENCH_LOCAL.json.
"""

from __future__ import annotations

import gc
import json
import math
import os
import statistics
import subprocess
import sys
import time
import uuid

from klinker_spark import ckpt
from klinker_spark.session import codegen_compiles

HERE = os.path.dirname(os.path.abspath(__file__))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(HERE, "testdata_sf1"))

#: Headline suite, one lane per major engine path: cheap blocking, token
#: blocking + purge, the relational headline method, tf-idf, MinHash-LSH
#: banding, the dedup family, similarity search, text analysis, windowed
#: events, composite and embedding blocking, evaluation.
BENCH_QUERIES = [
    "standard_blocking",
    "token_blocking",
    "purge_blocks",
    "relational_token_blocking",
    "tfidf_token_blocking",
    "minhash_lsh_blocking",
    "exact_dedup",
    "minhash_dedup",
    "simhash_dedup",
    "ngram_jaccard_dedup",
    "knn_topk",
    "knn_topk_sharded",
    "ann_topk_ivf_indexed",
    "langid",
    "quality_score",
    "tfidf_top_tokens",
    "windowed_event_counts",
    "events_dedup_earliest",
    "sessionize_events",
    "graph_statistics",
    "composite_unique_name_blocking",
    "composite_relational_blocking",
    "gcn_embedding_blocking",
    "deepblocker_knn_blocking",
    "corpus_clean_pipeline",
    "eval_metrics",
]

#: Training-data curation family, totalled apart from the headline.
CURATION_QUERIES = [
    "repetition_stats",
    "dedup_components",
    "contamination_check",
    "pii_scrub",
    "unigram_logprob",
    "dsir_importance",
    "pack_sequences",
    "stratified_sample",
    "vocab_coverage",
    "corpus_rollup",
    "embedding_quantize",
    "duplicated_span_stats",
    "token_budget_mix",
    "incremental_ingest",
    "gopher_rules",
    "line_dedup",
    "semdedup",
    "bloom_ingest_gate",
    "neardup_ingest_gate_fast",
    "cm_token_freq",
    "bigram_logprob",
    "value_histogram",
    "normalize_text",
    "edit_distance_dedup",
    "heavy_shingles",
]

#: Every other operator family.  The indexed ANN lanes measure search
#: only: their persisted index is prebuilt, untimed, per scale.
EXTRA_QUERIES = [
    "ann_topk_ivfpq_indexed_md5",
    "hdbscan_mst_stats",
    "doc_length_quantiles",
    "quality_classifier_md5",
    "bm25_search",
    "rrf_search",
    "weighted_sample",
    "zorder_layout_stats",
    "hll_distinct_sketch",
    "key_skew_profile",
    "pagerank_importance",
    "pmi_bigrams",
    "join_size_estimate",
    "salted_join_rollup",
    "remove_duplicated_spans",
    "temperature_mix",
    "matryoshka_truncate",
    "two_stage_ann",
    "retrieval_metrics_two_stage",
    "rbo_rankers",
    "hll_distinct_by_source",
    "sorted_neighborhood_blocking",
    "weighted_stratified_sample",
    "js_divergence_sources",
    "ngram_containment_dedup",
    "zipf_fit",
    "distinct_ngram_ratio",
    "langid_confusion",
    "tfidf_cosine_join_capped",
    "sorted_neighborhood_multipass",
    "bpe_train_merges",
    "bpe_token_count",
    "token_cooccurrence_triangles",
    "neighbor_jaccard_blocking",
    "token_community_labels",
    "customer_part_kcore",
    "phonetic_blocking",
    "quality_classifier_calibration",
    "scd2_user_state",
    "cdc_chunk_dedup",
    "funnel_conversion",
    "retention_cohorts",
    "event_transitions",
    "top_event_paths",
    "gap_fill_hourly",
    "revenue_rollup",
    "event_value_outliers",
    "bfs_reach",
    "order_pareto_frontier",
    "user_event_reservoir",
    "skipgram_pairs",
    "event_value_winsorized",
    "order_priority_target_encoding",
    "multimodal_frame_sample",
    "classifier_pr_curve",
    "user_activity_islands",
    "events_asof_join_forward",
    "event_type_hourly_pivot",
    "order_status_metrics_unpivot",
    "orders_upsert_merge",
    "cumulative_unique_users",
    "user_value_rolling_7d",
    "jl_projection_sketch",
    "fellegi_sunter_linkage",
    "hits_hubs_authorities",
    "time_decayed_user_value",
    "global_pareto_frontier",
    "ann_recall_audit",
    "personalized_pagerank",
    "funnel_conversion_windowed",
    "bloom_semijoin_pushdown",
    "event_hour_chi2",
    "customer_rfm_segments",
    "ngram_lm_perplexity",
    "bitext_margin_mining",
    "kcenter_coreset",
    "event_value_twap",
    "event_value_ohlc_hourly",
    "perplexity_bucket_mix",
    "cross_source_dup_matrix",
    "leakage_safe_split",
    "kmv_source_overlap",
    "golden_records",
    "sliding_window_counts",
    "source_drift_psi",
    "classifier_agreement_kappa",
    "benford_audit",
    "ivf_append_audit",
    "curation_funnel",
    "lsh_parameter_plan",
    "embedding_health_audit",
    "bucketed_join_revenue",
    "revenue_grouping_sets",
    "compaction_plan",
    "shard_balance_audit",
    "lsh_precision_recall_audit",
    "hll_accuracy_audit",
    "per_source_score_ecdf",
]

#: Scale validation at 10x: every family with linear or sublinear
#: scaling.  The quadratic-output blockers and the vocabulary-degenerate
#: dedup pair are left out (SCALE.md §sf1 records their numbers).
SF1_QUERIES = [
    "pagerank_importance", "standard_blocking", "token_blocking",
    "exact_dedup", "minhash_dedup", "simhash_dedup", "knn_topk",
    "knn_topk_sharded", "ann_topk_ivf_indexed", "ann_topk_ivfpq_indexed_md5",
    "langid", "quality_score", "windowed_event_counts", "sessionize_events",
    "eval_metrics", "semdedup", "line_dedup", "cm_token_freq",
    "corpus_clean_pipeline", "bm25_search", "weighted_sample",
    "zorder_layout_stats", "hll_distinct_sketch", "key_skew_profile",
    "pmi_bigrams", "join_size_estimate", "salted_join_rollup",
    "temperature_mix",
]

#: Per scale, the lanes whose in-suite time depends on how many queries
#: ran before them in the session (long stage chains, iterative loops):
#: three cold runs each at the end of their scale, median recorded.
ISOLATED = {
    "main": [
        "composite_relational_blocking",
        "composite_unique_name_blocking",
        "gcn_embedding_blocking",
    ],
    "sf1": [
        "knn_topk_sharded",
        "pmi_bigrams",
        "join_size_estimate",
        "standard_blocking",
        "pagerank_importance",
    ],
}

#: (section, scale, lanes, cold runs per lane), in run order
SECTIONS = (
    ("headline", "main", BENCH_QUERIES, 1),
    ("curation", "main", CURATION_QUERIES, 1),
    ("extras", "main", EXTRA_QUERIES, 1),
    ("sf1", "sf1", SF1_QUERIES, 1),
    ("sf1_isolated", "sf1", ISOLATED["sf1"], 3),
    ("isolated", "main", ISOLATED["main"], 3),
)

#: What the warm lap measures (change it when that changes): a rerun at
#: once after the cold run, with hot JIT, codegen and parquet footer
#: caches but none of the cold run's query caches, which its scope freed.
WARM_LANE = "scoped-rerun"

COUNTERS = ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
            "shuffle_write_mb", "spill_mb")


def _reset(spark) -> None:
    """Python and JVM garbage collection before a cold run, untimed."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _stage_counters(sc, group: str) -> dict:
    """The group's jobs and sums over their non-skipped stages."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store, tracker, jvm = jsc.statusStore(), sc.statusTracker(), sc._jvm
    c = dict.fromkeys(COUNTERS, 0)
    stage_ids: set[int] = set()
    for job in tracker.getJobIdsForGroup(group):
        c["jobs"] += 1
        info = tracker.getJobInfo(job)
        stage_ids.update(info.stageIds if info else ())
    for sid in stage_ids:
        # the store evicts skipped stages first, so a missing one was skipped
        attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False,
                                   sc._gateway.new_array(jvm.double, 0))
        if attempts.isEmpty() or (sd := attempts.head()).status().toString() == "SKIPPED":
            continue
        c["stages"] += 1
        c["tasks"] += sd.numCompleteTasks()
        c["run_s"] += sd.executorRunTime() / 1e3
        c["cpu_s"] += sd.executorCpuTime() / 1e9
        c["gc_s"] += sd.jvmGcTime() / 1e3
        c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
        c["spill_mb"] += sd.diskBytesSpilled() / 1e6
    return c


def _lane(spark, name: str, build, action) -> dict:
    """Time ``build()``, then ``action(built)``, inside one ``ckpt.scope()``
    under a fresh job group; return the run record.  ``action`` may return
    the group its jobs ran under (a stream runs under its run id)."""
    sc = spark.sparkContext
    group = f"bench-{name}-{uuid.uuid4().hex}"
    rt = sc._jvm.java.lang.Runtime.getRuntime()
    heap_mb = (rt.totalMemory() - rt.freeMemory()) >> 20
    rdds, compiles = set(sc._jsc.getPersistentRDDs()), codegen_compiles(spark)
    sc.setJobGroup(group, name)
    try:
        with ckpt.scope():
            t0 = time.perf_counter()
            built = build()
            t1 = time.perf_counter()
            group = action(built) or group
            t2 = time.perf_counter()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    rec = {
        "wall": t2 - t0, "build": t1 - t0, "action": t2 - t1,
        **_stage_counters(sc, group),
        "codegen": codegen_compiles(spark) - compiles, "heap_mb": heap_mb,
        "leaked_rdds": len(set(sc._jsc.getPersistentRDDs()) - rdds),
    }
    return {k: round(v, 3) if isinstance(v, float) else v for k, v in rec.items()}


def run_lane(spark, name: str, sf_dir: str) -> dict:
    """Run the registered query ``name`` at ``sf_dir`` as one lane: build
    it, force it with the noop sink, and return the run record."""
    from klinker_spark.queries import QUERIES

    return _lane(spark, name, lambda: QUERIES[name](spark, sf_dir),
                 lambda df: df.write.format("noop").mode("overwrite").save())


def _prepare(spark, sf_dir: str) -> None:
    """Once per scale, untimed: warm the footer cache and noop committer,
    and prebuild the persisted ANN indexes so the indexed lanes time
    search only (in a scope: the queries hand their caches to it)."""
    from klinker_spark.queries import QUERIES

    spark.read.parquet(f"{sf_dir}/nation.parquet").write.format("noop").mode("overwrite").save()
    with ckpt.scope():
        for q in ("ann_topk_ivf_indexed", "ann_topk_ivfpq_indexed_md5"):
            QUERIES[q](spark, sf_dir)


def _streaming_lanes(spark, sf_dir: str) -> dict[str, dict]:
    """The two streaming operators over the whole events table, read as a
    file stream (availableNow) into the noop sink: the wall covers every
    micro-batch, state-store commits included."""
    import tempfile

    from klinker_spark.data.io import event_ts
    from klinker_spark.streaming.dedup import streaming_dedup, windowed_ohlc

    ev = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(ev).schema
    # the file source reads one directory: the table's part files, or the scale dir's file
    path, pattern = (ev, "*.parquet") if os.path.isdir(ev) else (sf_dir, "events.parquet")
    out = {}
    with tempfile.TemporaryDirectory(prefix="bench_stream_") as work:
        for name, op in (("streaming_windowed_ohlc", windowed_ohlc),
                         ("streaming_dedup_gate", streaming_dedup)):

            def build():
                return op(event_ts(spark.readStream.schema(schema).option(
                    "pathGlobFilter", pattern).parquet(path)))

            def drain(sdf) -> str:
                q = (sdf.writeStream.format("noop").trigger(availableNow=True)
                     .option("checkpointLocation", os.path.join(work, name)).start())
                q.awaitTermination()
                return str(q.runId)

            _reset(spark)
            out[name] = _lane(spark, name, build, drain)
            print(f"# streaming {name}: {json.dumps(out[name])}", file=sys.stderr)
    return out


#: The harness running the bench keeps a ~2000-char tail of stdout.
_COMPACT_MAX_CHARS = 1900

#: Fields shed from the stdout line, in order, while it is over budget
#: (all are in the sidecar too); the ``queries`` map is never shed.
_COMPACT_SHED_ORDER = ("warm_lane", "sf1_total", "curation_total", "warm_total")


def _compact_line(full: dict) -> str:
    """The one stdout JSON line: the per-query map plus section totals.
    Sheds optional fields in ``_COMPACT_SHED_ORDER`` if over budget, then
    trims query decimals; the per-query map itself is unconditional, so a
    line still over budget after that is kept and reported on stderr."""
    keys = ("metric", "value", "unit", "queries", "sf", "warm_lane", "warm_total",
            "curation_total")
    compact = {**{k: full[k] for k in keys}, "sf1_total": full["sf1"]["total"]}
    line = json.dumps(compact)
    for field in _COMPACT_SHED_ORDER:
        if len(line) <= _COMPACT_MAX_CHARS:
            break
        compact.pop(field, None)
        line = json.dumps(compact)
    if len(line) > _COMPACT_MAX_CHARS:
        compact["queries"] = {k: round(float(v), 2) for k, v in compact["queries"].items()}
        line = json.dumps(compact)
    if len(line) > _COMPACT_MAX_CHARS:
        print(
            f"# WARNING: stdout line is {len(line)} chars, over the "
            f"{_COMPACT_MAX_CHARS}-char budget even after trimming",
            file=sys.stderr,
        )
    return line


def main() -> None:
    from klinker_spark.queries.linkage import BUCKETED_EVENTS
    from klinker_spark.session import get_spark, warm_python_workers

    spark = get_spark("bench")
    warm_python_workers(spark)
    scales = {"main": SF_DIR}
    if os.environ.get("SPARK_GRAFT_SKIP_SF1") != "1":
        scales["sf1"] = SF1_DIR
        if not os.path.isdir(SF1_DIR):  # deterministic regeneration, ~20 s
            subprocess.run([sys.executable, os.path.join(HERE, "scripts", "gen_testdata.py"),
                            "--sf", "1", "--out", SF1_DIR], check=True)
    for sf_dir in scales.values():
        _prepare(spark, sf_dir)
    load_start = os.getloadavg()
    lanes: dict[str, dict[str, list[dict]]] = {}

    def lap(section: str, name: str, sf_dir: str) -> None:
        rec = run_lane(spark, name, sf_dir)
        lanes.setdefault(section, {}).setdefault(name, []).append(rec)
        print(f"# {section} {name}: {json.dumps(rec)}", file=sys.stderr)

    for section, scale, names, runs in SECTIONS:
        if scale not in scales:
            continue
        for name in names:
            for _ in range(runs):
                _reset(spark)
                lap(section, name, scales[scale])
            if section == "headline":  # the warm lap: no reset in between
                lap("headline_warm", name, scales[scale])
    if "sf1" in scales:
        lanes["streaming"] = {n: [r] for n, r in _streaming_lanes(spark, SF1_DIR).items()}

    walls = {
        section: {n: round(statistics.median(r["wall"] for r in recs), 3)
                  for n, recs in by_name.items()}
        for section, by_name in lanes.items()
    }

    def total(section: str) -> float:
        return round(sum(walls.get(section, {}).values()), 3)

    base = {**walls["headline"], **walls["curation"], **walls["extras"]}
    sf1 = walls.get("sf1", {})
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    full = {
        "metric": "headline_suite_wall_time",
        "value": total("headline"),
        "unit": "sec",
        "queries": walls["headline"],
        "queries_warm": walls["headline_warm"],
        "warm_lane": WARM_LANE,
        "warm_total": total("headline_warm"),
        "queries_curation": walls["curation"],
        "curation_total": total("curation"),
        "queries_extra": walls["extras"],
        "isolated_warm_sf": walls["isolated"],
        "queries_streaming_sf1": walls.get("streaming", {}),
        "bucketed_tables": dict(BUCKETED_EVENTS),
        "sf1": {
            "dir": SF1_DIR,
            "queries": sf1,
            "isolated_warm": walls.get("sf1_isolated", {}),
            "total": total("sf1"),
            # log10(t_sf1 / t_sf0.1): 1 linear, 2 quadratic; bases under
            # 50 ms are fixed overhead
            "scaling_exponent_vs_main_sf": {
                n: round(math.log10(t / base[n]), 2)
                for n, t in sf1.items()
                if base.get(n, 0) > 0.05
            },
        },
        "load_avg": [round(x, 2) for x in load_start],
        "load_avg_end": [round(x, 2) for x in os.getloadavg()],
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "lanes": lanes,
    }
    local_path = os.path.join(HERE, "BENCH_LOCAL.json")
    with open(local_path, "w") as fh:
        json.dump(full, fh, indent=1)
    print(f"# full record: {local_path}", file=sys.stderr)
    print(_compact_line(full))


if __name__ == "__main__":
    main()
