"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what a cluster deploy would set per-job:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
shuffle partitions sized to the core count rather than the 200 default,
Arrow enabled for the pandas-UDF slow path.

At cluster scale (100 TB / 1000 executors) the same builder is used with
``master`` unset (taken from spark-submit) and ``shuffle_partitions``
raised to ~2-3x total cores; AQE coalesces the excess at runtime.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

__all__ = [
    "CODEGEN_CACHE_ENTRIES",
    "codegen_compiles",
    "get_spark",
    "local_df",
    "warm_python_workers",
    "widen_for_kernel",
]

logger = logging.getLogger(__name__)

#: Entries in Spark's generated-class cache
#: (``spark.sql.codegen.cache.maxEntries``, default 100).
CODEGEN_CACHE_ENTRIES = 4096


def codegen_compiles(spark) -> int:
    """Generated-code compiles in this JVM so far: the count of Spark's
    ``CodegenMetrics`` compile-time histogram.  The count is exact; the
    histogram's times are a ~1,000-sample reservoir, so no total is
    derived from them."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def warm_python_workers(spark) -> None:
    """Force-initialize numpy/OpenBLAS and the kernel tile pool in
    every reusable Python worker (one small task per core slot).

    The FIRST BLAS call in a forked PySpark worker initializes
    OpenBLAS's internal buffer pool, and the first write to the
    worker-global sims tile faults its pages — measured ~3.8 s PER
    WORKER on this host's degraded page-fault path (r11 postmortem:
    121.8 core-seconds across 32 fresh workers for matmuls that cost
    0.4 s warm).  Both are once-per-worker-LIFETIME costs; a
    steady-state deployment pays them at executor boot, so a harness
    that times individual queries should pay them here, untimed —
    same policy as the JVM codegen/footer warmup.  No-op on errors:
    warming must never fail a session."""
    try:
        cores = spark.sparkContext.defaultParallelism

        def boot(batches):
            import numpy as np
            import pandas as pd

            from klinker_spark.functions.vectors import _SIMS_TILE_ELEMS, _sims_tile

            a = np.ones((8, 8))
            (a @ a).sum()  # OpenBLAS init
            _sims_tile(1, _SIMS_TILE_ELEMS)[:] = 0.0  # fault the tile pool
            n = sum(len(p) for p in batches)
            yield pd.DataFrame({"n": [n]})

        # narrow-ok: the range is built with exactly `cores` partitions
        # (one boot task per worker slot); widening would be circular
        spark.range(0, cores, 1, cores).mapInPandas(boot, "n long").count()
    except Exception:
        logger.warning("warm_python_workers: warm-up failed", exc_info=True)


#: Logical-plan node heads that never introduce an exchange and keep a
#: file scan's partitioning: pure scan lineage.  Anything else (Join,
#: Aggregate, Window, Sort, Repartition, InMemoryRelation, LogicalRDD,
#: …) either shuffles or hides the true partition count.
_NARROW_PLAN_HEADS = frozenset(
    {"Relation", "Project", "Filter", "Generate", "Union", "Sample", "LocalLimit"}
)

#: Leaves that are already MATERIALIZED (a cache or a localCheckpoint):
#: reading ``.rdd`` off a plan made only of these + narrow ops executes
#: nothing (no exchange above the leaf), so the TRUE partition count is
#: safe to inspect — unlike join/aggregate lineage, where ``.rdd``
#: finalizes AQE and eagerly runs every upstream shuffle (r10 ADVICE).
_MATERIALIZED_LEAF_HEADS = frozenset({"InMemoryRelation", "LogicalRDD"})


def _plan_heads(plan_str: str) -> list[str]:
    """Node heads of an optimized-plan string, one per LOGICAL node.
    An ``InMemoryRelation`` leaf prints its cached *physical* plan as
    deeper-indented child lines (``*(1) ColumnarToRow`` / ``FileScan``)
    — those belong to the leaf, not the lineage, and are skipped."""
    out: list[str] = []
    skip_deeper_than: int | None = None
    for line in plan_str.splitlines():
        stripped = line.lstrip(" +-:")
        if not stripped:
            continue
        indent = len(line) - len(stripped)
        if skip_deeper_than is not None and indent > skip_deeper_than:
            continue
        skip_deeper_than = None
        head = stripped.split(" ", 1)[0].split("[", 1)[0]
        if head == "InMemoryRelation":
            skip_deeper_than = indent
        out.append(head)
    return out


def _scan_only_lineage(plan_str: str) -> bool:
    return all(h in _NARROW_PLAN_HEADS for h in _plan_heads(plan_str))


def _size_conf_bytes(spark, key: str, default: int) -> int:
    """Parse a Spark size conf ("134217728b", "128MB", "1g") to bytes."""
    try:
        raw = str(spark.conf.get(key)).strip().lower()
    except Exception:
        return default
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    num, unit = raw, ""
    for i, ch in enumerate(raw):
        if not (ch.isdigit() or ch == "."):
            num, unit = raw[:i], raw[i:]
            break
    try:
        return int(float(num) * mult.get(unit.rstrip("b").strip() or "", 1))
    except ValueError:
        return default


def _estimated_scan_splits(spark, files, plan) -> int:
    """Estimate how many scan tasks Spark will plan for ``files`` using
    its own file-packing formula (``FilePartition.maxSplitBytes`` +
    first-fit bin packing) instead of the raw file COUNT — Spark pads
    every file with ``openCostInBytes`` and packs small files into
    shared splits, so e.g. 32 tiny part files can coalesce to far fewer
    than 32 tasks while ``len(files)`` reads as "wide" (r11 ADVICE).

    ``maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    totalPaddedBytes / minPartitionNum))``; estimated splits =
    ``ceil(totalPaddedBytes / maxSplitBytes)`` — the bin count of a
    perfect packing, a lower bound on Spark's first-fit result, so a
    pass-through here can only UNDER-claim width, never over-claim.
    Local ``file:`` URIs are stat'ed directly; for remote filesystems
    the plan's byte statistic (the same total the scan planner uses,
    modulo the compression factor) is spread evenly across files.
    """
    open_cost = _size_conf_bytes(spark, "spark.sql.files.openCostInBytes", 4 << 20)
    max_part = _size_conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    try:
        min_pn = int(str(spark.conf.get("spark.sql.files.minPartitionNum")))
    except Exception:
        min_pn = spark.sparkContext.defaultParallelism
    sizes: list[int] | None = []
    for uri in files:
        if not uri.startswith("file:"):
            sizes = None
            break
        path = "/" + uri[5:].lstrip("/")
        try:
            sizes.append(os.path.getsize(path))
        except OSError:
            sizes = None
            break
    if sizes is None:
        total_data = max(int(plan.stats().sizeInBytes()), 0)
        per_file = total_data // max(len(files), 1)
        sizes = [per_file] * len(files)
    total = sum(s + open_cost for s in sizes)
    max_split = min(max_part, max(open_cost, total // max(min_pn, 1) + 1))
    return max(1, -(-total // max_split))


def _repartition_head_width(plan_str: str) -> int | None:
    """Partition count of an optimized plan whose TOP node is an
    explicit repartition, else None.  ``df.repartition(n)`` prints as
    ``Repartition n, true``; ``df.repartition(n, cols)`` as
    ``RepartitionByExpression [cols…], n``.  A hint-style repartition
    without an explicit count returns None (width unknown)."""
    import re

    first = plan_str.splitlines()[0].strip() if plan_str else ""
    m = re.match(r"Repartition (\d+)\b", first)
    if m:
        return int(m.group(1))
    m = re.match(r"RepartitionByExpression \[.*\], (\d+)\s*$", first)
    if m:
        return int(m.group(1))
    return None


def widen_for_kernel(df):
    """Round-robin repartition a frame so a CPU-bound ``mapInPandas`` /
    ``applyInPandas`` kernel runs at session parallelism.

    Python kernels inherit the INPUT's partitioning, and Spark sizes
    both scan splits and AQE shuffle readers by BYTES — a small table
    written as 2 part files (or a small post-shuffle frame coalesced by
    AQE) runs the whole kernel in 2 tasks on a 32-core box (r10 scale
    lesson: the sf1 embeddings table produced a NEGATIVE scaling
    exponent for semdedup this way; SCALE.md round-10 section).

    Narrowness is decided WITHOUT touching ``df.rdd``: with AQE on,
    accessing ``.rdd`` finalizes the adaptive plan and eagerly RUNS
    every upstream shuffle stage at graph-construction time — and the
    widened frame is a separate query execution, so that work ran twice
    (r10 ADVICE).  Instead the optimized LOGICAL plan is classified:

    - pure scan lineage (Project/Filter/… over file relations only):
      estimate the scan's SPLIT count with Spark's own packing formula
      (``_estimated_scan_splits`` — openCost padding + maxSplitBytes
      bins; raw file count over-claims width when many tiny files pack
      into shared splits, r11 ADVICE); wide lake scans pass through
      UNTOUCHED — the never-shuffle-a-100TB-index contract — while
      narrow small scans get one round-robin exchange, trivial next to
      per-row kernel arithmetic.
    - narrow ops over MATERIALIZED leaves only (a cache /
      localCheckpoint): the true partition count is read directly —
      ``.rdd`` off such a plan executes nothing (no exchange above the
      leaf) — and already-wide frames pass through, so a lake-scale
      cached index is never re-shuffled (r11 ADVICE: the previous
      unconditional repartition of non-scan lineage violated
      ``topk_cosine_sharded``'s index contract for cached frames).
    - an optimized plan already HEADED by an explicit ``repartition(n)``
      with ``n >= target``: pass through — the caller (or a previous
      ``widen_for_kernel``) has already widened it, and a second
      round-robin exchange would be pure waste.
    - remaining derived lineage (join/aggregate/window/sort …):
      repartition, with one guard — aggregate/window lineage whose
      byte statistic alone guarantees ``>= target`` scan-equivalent
      splits passes through (their stats are bounded by the child's,
      so a lake-scale derived frame is recognized and left in place).
      JOIN lineage never takes the size guard: Catalyst's non-CBO join
      stats are multiplicative fantasies, and trusting them would
      silently re-narrow small kernels (the exact r10 bug class).
      Such frames already paid a shuffle, so one more round-robin
      rebalance is proportional cost, never a lake-sized one.  An
      explicit ``repartition(n)`` is exempt from AQE coalescing, so
      the kernel is GUARANTEED ``target`` tasks.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    jqe = df._jdf.queryExecution()
    plan = jqe.optimizedPlan()
    plan_str = plan.toString()
    heads = _plan_heads(plan_str)
    max_split = _size_conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    if all(h in _NARROW_PLAN_HEADS for h in heads):
        files = df.inputFiles()
        if not files:
            # exotic exchange-free leaf — tiny by construction
            return df.repartition(target)
        if _estimated_scan_splits(spark, files, plan) >= target:
            return df
        return df.repartition(target)
    if all(h in _NARROW_PLAN_HEADS | _MATERIALIZED_LEAF_HEADS for h in heads):
        if df.rdd.getNumPartitions() >= target:
            return df
        return df.repartition(target)
    head_width = _repartition_head_width(plan_str)
    if head_width is not None and head_width >= target:
        return df
    if "Join" not in {h for h in heads}:
        try:
            size = int(plan.stats().sizeInBytes())
        except Exception:
            size = 0
        # sentinel guard: unknown stats print as defaultSizeInBytes
        # (Long.Max) — never a real measurement, never a pass-through
        if 0 < size < (1 << 60) and size // max_split >= target:
            return df
    return df.repartition(target)


def local_df(spark: "SparkSession", rows, schema: str):
    """``spark.createDataFrame`` for small driver-side row lists, via a
    pandas frame.  The plain list path serializes through per-row
    pickling and costs ~5 s per *action* even for 16 rows; the
    pandas/Arrow path is a LocalRelation (~0.1 s).  ``schema`` is a DDL
    string; rows are tuples in schema order.  Empty input falls back to
    the list path (pandas can't carry dtypes for 0 rows).
    """
    if not rows:
        return spark.createDataFrame([], schema)
    import pandas as pd

    names = [f.split()[0].strip("`") for f in _split_ddl(schema)]
    pdf = pd.DataFrame(rows, columns=names)
    return spark.createDataFrame(pdf, schema)


def _split_ddl(schema: str) -> list[str]:
    """Split a DDL column list on top-level commas (array<...> safe)."""
    out, depth, cur = [], 0, []
    for ch in schema:
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            depth += ch in "<("
            depth -= ch in ">)"
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


def get_spark(
    app_name: str = "klinker_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # one relational-token iteration generates ~165 classes; an LRU
        # smaller than a repeating working set (default 100) misses on
        # every entry, so each warm iteration compiled them all again
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # the cache is keyed by the generated source: with the stage id
        # in the class name, an AQE re-plan that renumbers a stage
        # compiles identical code again under a new name
        .config("spark.sql.codegen.useIdInClassName", "false")
        # RocksDB state store: required by transformWithState, and the
        # at-scale choice anyway (state off-heap + incremental snapshots
        # instead of full in-heap HDFS-backed maps)
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        # Changelog checkpointing: commit the per-batch state DELTA to
        # the checkpoint instead of a full RocksDB snapshot (snapshots
        # continue in the background at the maintenance interval).
        # Result-invariant; halves the measured state-commit cost on the
        # OHLC lane (batch-0 commitTimeMs 23-25 s -> 11-18 s summed
        # across 32 partitions at sf1, r13 interleaved A/B) and is the
        # at-scale choice anyway: full-snapshot uploads grow with TOTAL
        # state while a changelog grows with the batch's UPDATES.
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        # UI off by default (headless harness); flip on for stage-level
        # profiling via the REST status API (guide §7.1)
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI_ENABLED", "false"))
        # Driver heap MUST stay under ~32 GiB: above that the JVM
        # disables compressed ordinary object pointers (CompressedOops)
        # and every reference doubles to 8 bytes — measured here as
        # pagerank sf1 going 19 s (16g) → 70-97 s (48g) in otherwise
        # identical fresh sessions.  The earlier bimodal 17.7-47.8 s
        # readings at 16g were machine-contamination (measurements in
        # the page-cache churn window right after another Spark JVM
        # exits — see NOTES.md round-8 forensics), not storage
        # eviction; 16g with the explicit checkpoint lifecycle
        # (ckpt.release) is stable at 8-19 s.  On a real cluster this
        # is executor sizing: prefer more ≤31 GiB executors over fewer
        # giant heaps, for the same CompressedOops reason.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
