"""Headline benchmark — runs the engine's flagship queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full materialization,
no driver collect), mirroring how a cluster job would terminate in a
parquet write.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: The benchmark suite: one per major engine path — cheap blocking,
#: token blocking + purge, the relational headline method, tf-idf,
#: MinHash-LSH banding, the dedup family, similarity search, text
#: analysis, windowed events.
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

#: Training-data curation family — benched separately so the headline
#: value stays comparable to rounds 1-2 (same fixed suite).
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


#: Round-5 additions — benched separately (headline + curation suites
#: stay fixed for round-over-round comparability).  The IVF-PQ entry is
#: SEARCH-ONLY once the persisted index exists (first invocation per
#: machine builds it; every later run measures the probe kernel).
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
    # round-6 additions
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
    # round-7 additions
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
    # round-8 additions
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


#: Section-level host-throughput probes (r9 verdict #1).  The box this
#: bench runs on flaps 2-4x in per-core throughput within a session
#: (five same-code r9 runs: headline 60-127 s; external busy-loop
#: evidence in NOTES.md).  A fixed single-core python busy-loop timed
#: at the START of each section puts the box's state IN the artifact,
#: so "code regression vs host flap" is decided by data: a section
#: whose queries doubled alongside a doubled probe is the box, not the
#: code.  Nominal on this class of box: ~1.4 s idle, 2.5-3 s degraded.
_PROBES: dict[str, float] = {}


#: Disk-path probes (r10): pagerank's absolute sf1 cost flapped
#: 11.5→30 s across same-code sessions whose busy-loop probes were
#: ALL clean — the CPU probe certifies core throughput but not the
#: shuffle/checkpoint write path an iterative query leans on.  A
#: 64 MB fsync'd write+read against the same /tmp the Spark local
#: dirs live on records that second dimension.
_PROBES_IO: dict[str, float] = {}


#: Page-fault-path probes (r11): the knn postmortem found a THIRD
#: independent host dimension — first-touch page faults of fresh
#: anonymous memory flapped 16-100x (13.8 s to fault one worker's
#: 128 MB sims tile) while the cpu AND io probes stayed clean.  Fault
#: 64 MB page-by-page and time it: ~0.02-0.05 s healthy; whole-second
#: readings mean every fresh numpy allocation in every Python kernel
#: is paying it, and cold-lane outliers are host, not code.
_PROBES_MEM: dict[str, float] = {}


def _probe_once() -> tuple[float, float, float]:
    """One (cpu, io, fault-path) host measurement — see the three
    probe-dict docstrings above for what each dimension means."""
    t0 = time.time()
    x = 0
    for i in range(20_000_000):
        x ^= i * i
    cpu = round(time.time() - t0, 3)
    import tempfile

    blob = b"\xa5" * (8 << 20)
    t0 = time.time()
    with tempfile.NamedTemporaryFile(dir="/tmp", delete=True) as fh:
        for _ in range(8):
            fh.write(blob)
        fh.flush()
        os.fsync(fh.fileno())
        fh.seek(0)
        while fh.read(8 << 20):
            pass
    io = round(time.time() - t0, 3)
    t0 = time.time()
    blob = bytearray(64 << 20)  # calloc: pages fault lazily on write
    for off in range(0, 64 << 20, 4096):
        blob[off] = 1
    mem = round(time.time() - t0, 3)
    del blob
    return cpu, io, mem


def _host_probe(*sections: str) -> float:
    """One CPU + one IO probe, recorded under every name in
    ``sections`` — a section boundary is probed ONCE and stamped as
    both ``prev:end`` and ``next`` (start), so each section carries a
    BRACKET (r10 verdict #3: a start-only probe cannot adjudicate a
    flap 10 minutes into a section — the r10 healthy-run outliers were
    unadjudicable for exactly that reason)."""
    cpu, io, mem = _probe_once()
    for section in sections:
        _PROBES[section] = cpu
        _PROBES_IO[section] = io
        _PROBES_MEM[section] = mem
    print(
        f"# host probe [{'/'.join(sections)}]: cpu {cpu}s io64MB {io}s"
        f" fault64MB {mem}s",
        file=sys.stderr,
    )
    return cpu


#: Auto-retry lane (r11 verdict #1): any cold row that exceeds its
#: COMMITTED-artifact reference time by >2x gets one isolated re-run at
#: the end of its section, bracketed by its own cpu/io/fault probes and
#: recorded under ``queries_retry`` — so every golden_records-38 s /
#: hll_audit-9 s mystery carries an in-artifact verdict (flap vs real)
#: without waiting for a healthy 25-minute host window, which this box
#: has refused to give for two rounds.  Keys are ``lane:name``.
_RETRY: dict[str, dict] = {}
_RETRY_FLOOR_SEC = 1.0  # sub-second rows that "doubled" are noise
_RETRY_CAP_PER_LANE = 6  # a globally-degraded session must not 2x the run


def _committed_refs() -> dict[tuple[str, str], float]:
    """Per-(lane, query) reference times: the per-row MINIMUM across the
    last few COMMITTED versions of BENCH_LOCAL.json (``git log`` +
    ``git show`` so a second run in the same session does not compare
    against the first run's fresh artifact).  A single artifact is not a
    trustworthy reference on this host — the io dimension flaps
    minute-to-minute, so any one committed row can itself be
    flap-inflated (r12 found golden_records committed at 27.6 s masking
    a real 11.5 s sample whose healthy history is ~5 s).  The min across
    recent same-shape artifacts is the healthiest recorded cost; rows
    that beat it merely skip the (cheap, capped) retry.  Falls back to
    the on-disk file on a gitless checkout."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    raws: list[str] = []
    try:
        shas = subprocess.run(
            ["git", "-C", here, "log", "-n", "4", "--format=%H",
             "HEAD", "--", "BENCH_LOCAL.json"],
            capture_output=True,
            text=True,
            timeout=30,
        ).stdout.split()
        for sha in shas:
            out = subprocess.run(
                ["git", "-C", here, "show", f"{sha}:BENCH_LOCAL.json"],
                capture_output=True,
                text=True,
                timeout=30,
            ).stdout
            if out:
                raws.append(out)
    except Exception:
        pass
    if not raws:
        try:
            with open(os.path.join(here, "BENCH_LOCAL.json")) as fh:
                raws = [fh.read()]
        except OSError:
            return {}
    refs: dict[tuple[str, str], float] = {}
    for raw in raws:
        try:
            rec = json.loads(raw)
        except ValueError:
            continue
        for lane, section in (
            ("headline", rec.get("queries", {})),
            ("curation", rec.get("queries_curation", {})),
            ("extras", rec.get("queries_extra", {})),
            ("sf1", (rec.get("sf1") or {}).get("queries", {})),
            ("streaming", rec.get("queries_streaming_sf1", {})),
        ):
            for name, t in section.items():
                if isinstance(t, (int, float)) and t > 0:
                    key = (lane, name)
                    refs[key] = min(refs.get(key, float(t)), float(t))
    return refs


def _retry_outliers(lane: str, timings: dict, refs: dict, run_one) -> None:
    """Re-run this lane's >2x-vs-committed cold rows once, isolated,
    with a probe bracket of their own.  ``run_one(name)`` executes the
    query end-to-end and returns ITS OWN elapsed seconds, timed the
    same way the lane timed the cold row (cache reset outside the
    window)."""
    outliers = [
        n
        for n, t in timings.items()
        if refs.get((lane, n))
        and t > 2 * refs[(lane, n)]
        and t > _RETRY_FLOOR_SEC
    ]
    # most-suspect first: under the cap, the retries must go to the
    # biggest cold/ref ratios — r13 run 1 spent all 6 extras slots on
    # 2-3x rows in dict order while the 8x golden_records outlier (the
    # row that most needed an in-artifact verdict) fell off the cap
    outliers.sort(key=lambda n: timings[n] / refs[(lane, n)], reverse=True)
    dropped = outliers[_RETRY_CAP_PER_LANE:]
    if dropped:
        print(
            f"# retry lane [{lane}]: cap {_RETRY_CAP_PER_LANE} hit, "
            f"not retried: {dropped}",
            file=sys.stderr,
        )
    for name in outliers[:_RETRY_CAP_PER_LANE]:
        before = _probe_once()
        try:
            rt = round(float(run_one(name)), 3)
        except Exception as ex:  # pragma: no cover - bench resilience
            print(f"# retry {lane}:{name} failed: {ex}", file=sys.stderr)
            continue
        after = _probe_once()
        _RETRY[f"{lane}:{name}"] = {
            "cold": timings[name],
            "ref": refs[(lane, name)],
            "retry": rt,
            "probe_before": dict(zip(("cpu", "io", "mem"), before)),
            "probe_after": dict(zip(("cpu", "io", "mem"), after)),
        }
        print(
            f"# retry [{lane}] {name}: cold {timings[name]}s vs ref "
            f"{refs[(lane, name)]}s -> isolated {rt}s "
            f"(cpu {before[0]}/{after[0]} io {before[1]}/{after[1]} "
            f"mem {before[2]}/{after[2]})",
            file=sys.stderr,
        )


#: Row-level probe sampling (r11 verdict #8): the five historically
#: flappiest queries get their OWN probe bracket around every cold
#: run — row-level attribution that section brackets structurally
#: can't give.  ~1.7 s/probe healthy; 5 queries ≈ +17 s per run.
_FLAPPY = {
    "pagerank_importance",
    "golden_records",
    "duplicated_span_stats",
    "lsh_precision_recall_audit",
    "semdedup",
}
_QUERY_PROBES: dict[str, dict] = {}


def _flappy_probe(lane: str, name: str, edge: str) -> None:
    if name not in _FLAPPY:
        return
    cpu, io, mem = _probe_once()
    _QUERY_PROBES.setdefault(f"{lane}:{name}", {})[edge] = {
        "cpu": cpu,
        "io": io,
        "mem": mem,
    }


#: Budget for the final stdout line — the driver keeps only a
#: ~2000-char tail of stdout, so the line must fit with margin.
_COMPACT_MAX_CHARS = 1900

#: Optional fields shed from the compact line, in this order, should it
#: ever exceed the budget.  The per-query ``queries`` map is NEVER shed
#: (r12 verdict #1: the old ``total_only`` fallback erased the round's
#: entire per-query ground truth — probe dicts pushed the line over the
#: cap and the driver received zero lane timings).  Everything listed
#: here is duplicated in the BENCH_LOCAL.json sidecar.
_COMPACT_SHED_ORDER = (
    "retries",
    "warm_lane",
    "sf1_total",
    "curation_total",
    "warm_total",
)


def _compact_line(full: dict, n_retries: int) -> str:
    """The ONE stdout JSON line.  Carries the full per-query map plus
    section totals; retry details / probe brackets / warm rows live in
    the sidecar only (r12 verdict #1 — they are what overflowed the
    line).  Sheds optional fields in ``_COMPACT_SHED_ORDER`` if over
    budget, and as a last resort trims query decimals — the per-query
    map itself is unconditional, so a line still over budget after that
    is kept and reported on stderr."""
    compact = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": full["unit"],
        "queries": dict(full["queries"]),
        "sf": full["sf"],
        "warm_lane": full["warm_lane"],
        "warm_total": full["warm_total"],
        "curation_total": full["curation_total"],
        "sf1_total": full["sf1"]["total"],
        "retries": n_retries,
    }
    line = json.dumps(compact)
    for field in _COMPACT_SHED_ORDER:
        if len(line) <= _COMPACT_MAX_CHARS:
            break
        compact.pop(field, None)
        line = json.dumps(compact)
    if len(line) > _COMPACT_MAX_CHARS:
        # last resort that still keeps every lane: fewer decimals
        compact["queries"] = {
            k: round(float(v), 2) for k, v in compact["queries"].items()
        }
        line = json.dumps(compact)
    if len(line) > _COMPACT_MAX_CHARS:
        print(
            f"# WARNING: stdout line is {len(line)} chars, over the "
            f"{_COMPACT_MAX_CHARS}-char budget even after trimming",
            file=sys.stderr,
        )
    return line


def _bucketed_events() -> dict:
    try:
        from klinker_spark.queries.linkage import BUCKETED_EVENTS

        return BUCKETED_EVENTS
    except Exception:  # pragma: no cover - bench resilience
        return {}


def main() -> None:
    from klinker_spark.queries import QUERIES
    from klinker_spark.session import codegen_compiles, get_spark

    spark = get_spark("bench")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    # Warm the JVM (codegen JIT, parquet footer cache, noop committer)
    # AND the Python workers (OpenBLAS init + kernel tile pool — r11
    # postmortem: ~3.8 s ONCE per fresh worker on this host's degraded
    # fault path, which otherwise lands inside the first Python-kernel
    # query's timed window) before timing — one-off session costs no
    # steady-state deployment pays per query.
    spark.read.parquet(f"{SF_DIR}/nation.parquet").write.format("noop").mode(
        "overwrite"
    ).save()
    from klinker_spark.session import warm_python_workers

    warm_python_workers(spark)

    # Prebuild the persisted ANN indexes UNTIMED (r6 verdict #6: the
    # indexed queries are search-only benchmarks; on a fresh checkout
    # the first invocation would otherwise pay the one-off index build
    # inside its timed window).  The query fns cache on disk, so this
    # is a no-op when the warehouse already holds the index.
    def _prebuild_indexes(sf_path: str) -> None:
        for q in ("ann_topk_ivf_indexed", "ann_topk_ivfpq_indexed_md5"):
            try:
                QUERIES[q](spark, sf_path)  # builds eagerly, returns lazy DF
            except Exception as ex:  # pragma: no cover - bench resilience
                print(f"# index prebuild {q}@{sf_path} failed: {ex}", file=sys.stderr)

    _prebuild_indexes(SF_DIR)

    # bench hygiene (round-2 verdict): record machine load and a second
    # warm iteration per query so round-over-round comparisons can be
    # adjudicated — a contended sandbox shows up as load_avg >> n_cpus
    # and as cold/warm divergence on unchanged code.
    load_start = os.getloadavg()
    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    last_compiles = codegen_compiles(spark)
    # Between queries: clear caches AND force a JVM GC.  A 50-query
    # session accumulates broadcasts/codegen classes until GC pressure
    # inflates later queries (~2x measured on contamination_check:
    # 16 s after 10 prior queries, 8.9 s right after a System.gc() —
    # byte-identical plan); a steady-state deployment running one
    # pipeline never sees this, so timing WITH the hygiene reflects
    # real per-query cost.  The gc happens outside the timed window.
    def _reset():
        nonlocal last_compiles
        # EXPLICITLY drop every cached relation and persistent RDD
        # (localCheckpoint blocks + unscoped persists).  The r7 gc.collect() approach was not
        # enough: blocks created inside query closures stay pinned by
        # py4j refs the ContextCleaner never observes dead within the
        # session, and the orphans evict-churned later queries
        # (measured: pagerank sf1 24 s fresh vs ~50 s behind a
        # session's worth of orphan blocks — the r7 headline
        # regression).  Between bench queries nothing from the prior
        # query may be referenced again, so a blanket unpersist is safe.
        from klinker_spark.ckpt import release_all

        release_all(spark)
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if os.environ.get("SPARK_GRAFT_BENCH_DIAG") == "1":
            # session-aging diagnostics: JVM heap after GC, leftover
            # shuffle bytes on local disk, persistent-RDD count
            rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
            heap_mb = (rt.totalMemory() - rt.freeMemory()) >> 20
            import glob

            def _sz(p):
                try:
                    return os.path.getsize(p)
                except OSError:  # deleted concurrently by the shuffle cleaner
                    return 0

            shuffle_mb = sum(
                _sz(os.path.join(r, f))
                for d in glob.glob("/tmp/blockmgr-*")
                for r, _, fs in os.walk(d)
                for f in fs
            ) >> 20
            n_rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
            # generated-code compiles since the previous reset
            compiles = codegen_compiles(spark)
            n_cg, cg_ms = (now - last for now, last in zip(compiles, last_compiles))
            last_compiles = compiles
            print(
                f"## diag heap={heap_mb}MB shuffle={shuffle_mb}MB rdds={n_rdds} "
                f"codegen={n_cg} codegen_ms={cg_ms}",
                file=sys.stderr,
            )

    # WARM-LANE DEFINITION (r10 verdict #3 — the lane drifted when the
    # cache-release honesty fix landed): the warm lap is the
    # CACHE-WARM steady-state rerun — it runs immediately after the
    # cold lap with NO reset in between, so it sees a hot JVM (JIT,
    # codegen classes), hot parquet footer caches, AND whatever
    # persisted frames the query itself built in the cold lap (unscoped
    # caches, checkpoint blocks) — exactly what a consumer
    # re-running the same query in a live session pays.  The cold lap
    # is the post-reset first-run cost.  Under this definition
    # warm <= cold up to noise by construction; a warm row slower than
    # its cold row on a clean-probe run is a real bug, not lane drift.
    refs = _committed_refs()

    def _timed_cold(name: str, sf_path: str = SF_DIR) -> float:
        """One post-reset cold run, timed exactly like the lane loops
        (reset outside the window) — the retry lane's runner."""
        _reset()
        t0 = time.time()
        QUERIES[name](spark, sf_path).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    _host_probe("headline")
    for name in BENCH_QUERIES:
        fn = QUERIES[name]
        _reset()
        t0 = time.time()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)
        t0 = time.time()  # warm lap: deliberately NO reset — see above
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        warm[name] = round(time.time() - t0, 3)
        print(f"# {name}: cold {timings[name]}s warm {warm[name]}s", file=sys.stderr)
    _retry_outliers("headline", timings, refs, _timed_cold)

    # curation family: measured and reported separately — NOT part of
    # the headline value, which stays the fixed r01-comparable suite
    curation = {}
    _host_probe("headline:end", "curation")
    for name in CURATION_QUERIES:
        _reset()
        _flappy_probe("curation", name, "before")
        t0 = time.time()
        QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        curation[name] = round(time.time() - t0, 3)
        _flappy_probe("curation", name, "after")
        print(f"# {name}: {curation[name]}s (curation)", file=sys.stderr)
    _retry_outliers("curation", curation, refs, _timed_cold)

    extras = {}
    _host_probe("curation:end", "extras")
    for name in EXTRA_QUERIES:
        _reset()
        _flappy_probe("extras", name, "before")
        t0 = time.time()
        QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        extras[name] = round(time.time() - t0, 3)
        _flappy_probe("extras", name, "after")
        print(f"# {name}: {extras[name]}s (extra)", file=sys.stderr)
    _retry_outliers("extras", extras, refs, _timed_cold)
    _host_probe("extras:end")

    # ---- sf1 scale-validation section (round-3 verdict #1) ----
    # A representative 10x-scale pass: every engine family with
    # linear/sublinear scaling, plus the round-4 eval_metrics fix.
    # The three quadratic-OUTPUT blockers and the vocab-degeneracy
    # dedup pair are excluded with written waivers (SCALE.md §sf1) —
    # their full-suite sf1 numbers are recorded there.
    sf1_queries = [
        # pagerank runs FIRST for r10 (r9 verdict #1): its in-suite
        # number flapped 4-8x above its isolated-warm lane across r9
        # runs; heading the section separates box state from suite
        # state (if first-in-section still exceeds 1.5x isolated with
        # a clean probe, the cause is suite context, not the host)
        "pagerank_importance",
        "standard_blocking", "token_blocking", "exact_dedup",
        "minhash_dedup", "simhash_dedup", "knn_topk", "knn_topk_sharded",
        "ann_topk_ivf_indexed", "ann_topk_ivfpq_indexed_md5",
        "langid", "quality_score",
        "windowed_event_counts", "sessionize_events", "eval_metrics",
        "semdedup", "line_dedup", "cm_token_freq", "corpus_clean_pipeline",
        "bm25_search", "weighted_sample", "zorder_layout_stats",
        "hll_distinct_sketch", "key_skew_profile",
        "pmi_bigrams", "join_size_estimate", "salted_join_rollup",
        "temperature_mix",
    ]
    sf1_dir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata_sf1"),
    )
    sf1_timings: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_SKIP_SF1") != "1":
        if not os.path.isdir(sf1_dir):
            # deterministic regeneration (fresh clone): ~90 s once
            import importlib.util

            spec = importlib.util.spec_from_file_location(
                "gen_testdata",
                os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    "scripts", "gen_testdata.py",
                ),
            )
            gen = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(gen)
            gen.generate(1.0, sf1_dir, seed=42)
        _prebuild_indexes(sf1_dir)
        # same warmup contract as the headline section: footer cache +
        # committer init for the new directory happen once, untimed,
        # instead of inflating the section's first query
        spark.read.parquet(f"{sf1_dir}/nation.parquet").write.format("noop").mode(
            "overwrite"
        ).save()
        _host_probe("sf1")
        for name in sf1_queries:
            _reset()
            _flappy_probe("sf1", name, "before")
            t0 = time.time()
            QUERIES[name](spark, sf1_dir).write.format("noop").mode("overwrite").save()
            sf1_timings[name] = round(time.time() - t0, 3)
            _flappy_probe("sf1", name, "after")
            print(f"# {name}: {sf1_timings[name]}s (sf1)", file=sys.stderr)
        _retry_outliers(
            "sf1", sf1_timings, refs, lambda n: _timed_cold(n, sf1_dir)
        )
        _host_probe("sf1:end")

    # isolated-warm lane (r8 verdict #1): any query whose full-suite sf1
    # number has exceeded 1.3x its best prior-round artifact gets a
    # best-of-3 re-measurement at the END of the section, after its
    # first-touch costs (scan footer cache, codegen) are paid — so
    # "environment vs code" is decided by data IN the artifact, not by
    # prose.  Best prior-round full-suite numbers for reference:
    # knn_topk_sharded 2.37 (r6), pmi_bigrams 2.95 (r6),
    # join_size_estimate 1.18 (r6), standard_blocking 7.74 (r7).
    sf1_isolated_warm: dict[str, float] = {}
    if sf1_timings:
        _host_probe("sf1_isolated")
        for name in (
            "knn_topk_sharded",
            "pmi_bigrams",
            "join_size_estimate",
            "standard_blocking",
            # in-suite 41-57 s across r9 runs vs 21-27 s in a fresh
            # session at identical code — the long-session tax on a
            # 30-iteration checkpointed loop; the isolated number is
            # the code's cost
            "pagerank_importance",
        ):
            best = float("inf")
            for _ in range(3):
                _reset()
                t0 = time.time()
                QUERIES[name](spark, sf1_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.time() - t0)
            sf1_isolated_warm[name] = round(best, 3)
            print(
                f"# {name}: {sf1_isolated_warm[name]}s (sf1 isolated-warm)",
                file=sys.stderr,
            )
        _host_probe("sf1_isolated:end")

    # sf0.1 isolated-warm twin for the blocking lanes with the longest
    # stage chains: the main lanes run in a session aged by ~45 prior
    # queries, which taxes every stage.  Post-reset best-of-3 at the
    # very end records the code's cost next to the in-suite number.
    sf01_isolated_warm: dict[str, float] = {}
    _host_probe("sf01_isolated")
    for name in (
        "composite_relational_blocking",
        "composite_unique_name_blocking",
        "gcn_embedding_blocking",
    ):
        best = float("inf")
        for _ in range(3):
            _reset()
            t0 = time.time()
            QUERIES[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.time() - t0)
        sf01_isolated_warm[name] = round(best, 3)
        print(
            f"# {name}: {sf01_isolated_warm[name]}s (sf0.1 isolated-warm)",
            file=sys.stderr,
        )
    _host_probe("sf01_isolated:end")

    # ---- streaming throughput section (r7 verdict #8) ----
    # The streaming twins were correctness-only until now; record their
    # sf1 throughput so the temporal family has a baseline before anyone
    # scales it.  Each runs the WHOLE sf1 event table through a real
    # file stream (availableNow) into the noop sink — wall time is
    # end-to-end micro-batch processing incl. state-store writes.
    streaming_timings: dict[str, float] = {}
    if sf1_timings:
        _host_probe("streaming")
        import shutil
        import tempfile

        from pyspark.sql import functions as SF

        from klinker_spark.streaming.dedup import streaming_dedup, windowed_ohlc

        ev_path = f"{sf1_dir}/events.parquet"
        raw_schema = spark.read.parquet(ev_path).schema
        # the file-stream source needs a DIRECTORY of leaf files; the
        # testdata table is a single parquet file OR a directory of
        # part files — stage the leaves behind symlinks (no copy)
        stage_dir = tempfile.mkdtemp(prefix="bench_stream_src_")
        leaves = (
            sorted(
                os.path.join(ev_path, f)
                for f in os.listdir(ev_path)
                if f.endswith(".parquet")
            )
            if os.path.isdir(ev_path)
            else [ev_path]
        )
        for i, leaf in enumerate(leaves):
            os.symlink(
                os.path.abspath(leaf), os.path.join(stage_dir, f"ev-{i:05d}.parquet")
            )

        def _stream_events():
            st = spark.readStream.schema(raw_schema).parquet(stage_dir)
            dt = dict(st.dtypes)["ts"]
            if dt == "bigint":  # data/io.py::load_events normalization
                st = st.withColumn("ts", SF.timestamp_micros(SF.expr("ts DIV 1000")))
            elif dt == "timestamp_ntz":
                st = st.withColumn("ts", SF.col("ts").cast("timestamp"))
            return st

        def _stream_once(name, make_df) -> float:
            _reset()
            ckpt = tempfile.mkdtemp(prefix=f"bench_stream_{name}_")
            t0 = time.time()
            q = (
                make_df()
                .writeStream.format("noop")
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            elapsed = round(time.time() - t0, 3)
            shutil.rmtree(ckpt, ignore_errors=True)
            return elapsed

        stream_makers = {
            "streaming_windowed_ohlc": lambda: windowed_ohlc(_stream_events()),
            "streaming_dedup_gate": lambda: streaming_dedup(_stream_events()),
        }
        try:
            for name, make_df in stream_makers.items():
                streaming_timings[name] = _stream_once(name, make_df)
                print(
                    f"# {name}: {streaming_timings[name]}s (streaming sf1)",
                    file=sys.stderr,
                )
            # r11 verdict #7: both streaming rows flapped 2x across the
            # two r11 runs (end-of-run, worst io window) — the retry
            # lane covers them like any other lane
            _retry_outliers(
                "streaming",
                streaming_timings,
                refs,
                lambda n: _stream_once(n, stream_makers[n]),
            )
        except Exception as ex:  # pragma: no cover - bench resilience
            print(f"# streaming bench failed: {ex}", file=sys.stderr)
        finally:
            shutil.rmtree(stage_dir, ignore_errors=True)
        _host_probe("streaming:end")

    import math

    base = {**timings, **curation, **extras}
    exponents = {
        n: round(math.log10(t / base[n]), 2)
        for n, t in sf1_timings.items()
        if base.get(n, 0) > 0.05  # sub-50ms bases are all fixed overhead
    }

    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_suite_wall_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_warm": warm,
        # lane-definition version stamp (r11 ADVICE): the warm lap is
        # the CACHE-WARM rerun (no reset between cold and warm) since
        # r11 — earlier artifacts used a post-reset rerun, so
        # cross-round warm deltas spanning r10/r11 are lane-definition
        # changes, not code.  Bump this string if the semantics move.
        "warm_lane": "cache-warm-r11",
        "warm_total": round(sum(warm.values()), 3),
        # isolated re-runs of >2x-vs-committed cold rows, each with its
        # own probe bracket (r11 verdict #1): `retry` ~ ref with clean
        # probes = the cold sample was host flap; `retry` ~ cold = real
        "queries_retry": dict(_RETRY),
        # row-level probe brackets for the historically flappiest
        # queries (r11 verdict #8)
        "query_probes": dict(_QUERY_PROBES),
        "queries_curation": curation,
        "curation_total": round(sum(curation.values()), 3),
        "queries_extra": extras,
        "isolated_warm_sf": sf01_isolated_warm,
        "queries_streaming_sf1": streaming_timings,
        # single-core busy-loop (cpu) and 64 MB fsync write+read (io)
        # seconds at the START and END of each section ("<name>" and
        # "<name>:end") — the bracketing host-state record that
        # adjudicates flapping (see _host_probe).  Compare sections
        # WITHIN a run and the same section ACROSS runs before reading
        # any timing delta as code; a section whose brackets diverge
        # >1.3x flapped MID-section and its outliers are host noise.
        "host_probe": dict(_PROBES),
        "host_probe_io": dict(_PROBES_IO),
        "host_probe_mem": dict(_PROBES_MEM),
        # build-vs-reuse per bucketed catalog table: a
        # "built-first-touch" entry means that layout shuffle ran
        # INSIDE the first consuming query's timed window this session
        "bucketed_tables": dict(_bucketed_events()),
        "sf1": {
            "dir": sf1_dir,
            "queries": sf1_timings,
            "isolated_warm": sf1_isolated_warm,
            "total": round(sum(sf1_timings.values()), 3),
            # log10(t_sf1 / t_sf0.1): 1.0 = linear in data size,
            # < 1 sublinear, 2.0 quadratic
            "scaling_exponent_vs_main_sf": exponents,
        },
        "load_avg": [round(x, 2) for x in load_start],
        "load_avg_end": [round(x, 2) for x in os.getloadavg()],
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # The full record (every section) goes to a sidecar file — the
    # driver keeps only a 2000-char tail of stdout, which truncated the
    # r6 record mid-JSON.  The LAST stdout line is a compact headline
    # (metric/value/unit/queries/sf + section totals) sized to survive
    # that tail.
    local_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
    )
    with open(local_path, "w") as fh:
        json.dump(full, fh, indent=1)
    print(f"# full record: {local_path}", file=sys.stderr)
    print(_compact_line(full, len(_RETRY)))


if __name__ == "__main__":
    main()
