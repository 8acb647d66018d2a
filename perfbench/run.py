"""Blocking-pipeline benchmark for klinker_spark.

Usage, from the repository root:

    python3 perfbench/run.py --workload relational-token --seed 1 --seconds 25 --trace 0

One client runs one pipeline at a time on ``local[<cores>]`` (a closed
loop).  Every iteration is

    data.load -> blockers.assign | encoders.encode + embedding.build_blocks
              -> data.write -> data.read -> eval.from_blocks

over a customer/supplier KG pair that ``scripts/gen_testdata.py`` makes
from ``--seed``.  Gold links are ``c_custkey = 10 * s_suppkey``.

``--trace 0`` wall-clocks whole iterations and prints the end-to-end
metrics.  ``--trace 1`` alternates untraced and traced iterations; a
traced iteration runs each call's Spark jobs under a job group and reads
their stages from the status store.  It prints the per-layer metrics and
writes the spans and the spread of every counter to ``.perfbench/traces/``.
The last line of standard output is the JSON result; progress goes to
standard error.  ``perfbench/README.md`` defines every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path.cwd()
WORK_ROOT = ROOT / ".perfbench"

#: Input scale for ``gen_testdata.generate``: 7,500 customers, 500
#: suppliers, 25 nations.  The relational and kNN iterations are
#: scheduling-bound (the same 5-9 s from sf 0.01 to 0.1); a larger scale
#: would only lengthen the evaluation, the checks and input generation,
#: and leave fewer iterations in a run.
SCALE = 0.05
#: Untimed iterations before the measured window: the first of a
#: session costs 2.5-3.5x a warm one.
WARMUP = 1
#: Fewest measured iterations (of each kind when traced).  The next
#: iterations still speed up by 10-20% while the JIT warms, so the
#: count is fixed per workload rather than set by the clock: a run on a
#: slow host measures the same iterations as one on a fast host, not
#: fewer from higher on the warm-up slope.
MIN_ITERS = 3
KNN_K = 5

CALLS = (
    "data.load",
    "encoders.encode",
    "blockers.assign",
    "embedding.build_blocks",
    "data.write",
    "data.read",
    "eval.from_blocks",
)
COUNTERS = {
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "run_s": "s",
    "cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
}
RUN_LEVEL = {
    "data.write.output_mb": "MB",
    "session.core_busy_frac": "ratio",
    "session.cpu_frac": "ratio",
    "session.jvm_peak_rss_mb": "MB",
    "ckpt.leaked_rdds": "count",
    "bench.trace_overhead_frac": "ratio",
    "eval.from_blocks.recall": "ratio",
}
END_TO_END = {
    "pipeline_s": "s",
    "candidate_pairs": "count",
    "reduction_ratio": "ratio",
    "setup_s": "s",
}


class CheckFailed(Exception):
    """An output check of one iteration did not hold."""


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ tracing


@dataclass
class Tracer:
    """Times the library calls of one iteration.

    Untraced, a call costs two clock reads.  Traced, each call's Spark
    jobs run under their own job group, and :meth:`counters` sums the
    stages of every group from the status store once the listener bus
    has drained."""

    spark: object
    iteration: int
    traced: bool
    spans: list[dict] = field(default_factory=list)

    def group(self, name: str) -> str:
        return f"perfbench-{self.iteration}-{name}"

    @contextlib.contextmanager
    def call(self, name: str):
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobGroup(self.group(name), name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            if self.traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(
                {"trace": self.iteration, "name": name, "parent": "iteration",
                 "start": start, "end": end}
            )

    def counters(self) -> dict[str, dict[str, float]]:
        """Per-call counters of a traced iteration.  A stage listed by
        two calls' jobs counts once, for the first; a stage skipped
        because its shuffle output already existed does not count."""
        out = {c: dict.fromkeys(COUNTERS, 0.0) for c in CALLS}
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store, tracker = jsc.statusStore(), sc.statusTracker()
        jvm, gw = sc._jvm, sc._gateway
        seen: set[int] = set()
        for span in self.spans:
            c = out[span["name"]]
            c["wall_s"] += span["end"] - span["start"]
            for job in tracker.getJobIdsForGroup(self.group(span["name"])):
                c["jobs"] += 1
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    if sid in seen:
                        continue
                    seen.add(sid)
                    sd = store.stageAttempt(
                        sid, 0, False, jvm.java.util.ArrayList(), False,
                        gw.new_array(jvm.double, 0),
                    )._1()
                    if sd.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += sd.numCompleteTasks()
                    c["run_s"] += sd.executorRunTime() / 1e3
                    c["cpu_s"] += sd.executorCpuTime() / 1e9
                    c["gc_s"] += sd.jvmGcTime() / 1e3
                    c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
                    c["spill_mb"] += sd.diskBytesSpilled() / 1e6
        return out


# ---------------------------------------------------------------- workloads


def _table(spark, data: Path, name: str):
    return spark.read.parquet(str(data / f"{name}.parquet"))


def _gold(cust, supp, prefix: tuple[str, str]):
    from pyspark.sql import functions as F

    return cust.join(supp, cust.c_custkey == 10 * supp.s_suppkey).select(
        F.concat(F.lit(prefix[0]), F.col("c_custkey").cast("string")).alias("left_id"),
        F.concat(F.lit(prefix[1]), F.col("s_suppkey").cast("string")).alias("right_id"),
    )


def load_relational(spark, data: Path) -> dict:
    """Customer segments and supplier names plus their nation
    neighbours: the composition of the registered
    ``composite_relational_blocking`` query."""
    from pyspark.sql import functions as F

    from klinker_spark.data.frames import EntityFrame, melt

    cust, supp, nat = (_table(spark, data, t) for t in ("customer", "supplier", "nation"))
    nat_name = F.regexp_replace(F.col("n_name"), "_", "").alias("n_name")
    nat_attrs = melt(
        nat.select(F.concat(F.lit("n"), F.col("n_nationkey")).alias("id"), nat_name), "id"
    )

    def side(df, name: str, prefix: str, key: str, nation: str, attr: str):
        entity_id = F.concat(F.lit(prefix), F.col(key))
        ent = EntityFrame(
            melt(df.select(entity_id.alias("id"), attr), "id").unionByName(nat_attrs), name
        )
        rel = df.select(
            entity_id.alias("head"),
            F.lit("in_nation").alias("rel"),
            F.concat(F.lit("n"), F.col(nation)).alias("tail"),
        )
        return ent, rel

    left, left_rel = side(cust, "customer", "c", "c_custkey", "c_nationkey", "c_mktsegment")
    right, right_rel = side(supp, "supplier", "s", "s_suppkey", "s_nationkey", "s_name")
    return {
        "left": left, "right": right, "left_rel": left_rel, "right_rel": right_rel,
        "gold": _gold(cust, supp, ("c", "s")),
        "left_count": left.ids(), "right_count": right.ids(),
    }


def block_relational(inp: dict, tr: Tracer):
    from klinker_spark.blockers.composite import CompositeRelationalTokenBlocker

    with tr.call("blockers.assign"):
        return CompositeRelationalTokenBlocker().assign(
            inp["left"], inp["right"], inp["left_rel"], inp["right_rel"]
        )


def load_standard(spark, data: Path) -> dict:
    """The nation key on both sides: the composition of the registered
    ``standard_blocking`` query (25 hub blocks)."""
    from pyspark.sql import functions as F

    from klinker_spark.data.frames import EntityFrame

    cust, supp = _table(spark, data, "customer"), _table(spark, data, "supplier")

    def side(df, name: str, id_col: str, key_col: str):
        ent = EntityFrame.from_wide(df, name, id_col, [key_col])
        return ent.with_attrs(ent.attrs.withColumn("prop", F.lit("nation")))

    return {
        "left": side(cust, "customer", "c_custkey", "c_nationkey"),
        "right": side(supp, "supplier", "s_suppkey", "s_nationkey"),
        "gold": _gold(cust, supp, ("", "")),
        "left_count": cust, "right_count": supp,
    }


def block_standard(inp: dict, tr: Tracer):
    from klinker_spark.blockers.standard import StandardBlocker

    with tr.call("blockers.assign"):
        return StandardBlocker("nation").assign(inp["left"], inp["right"])


def load_embedding(spark, data: Path) -> dict:
    """Every attribute of an entity concatenated into one text, the
    encoder input of the reference's embedding pipeline."""
    from klinker_spark.data.frames import EntityFrame

    cust, supp = _table(spark, data, "customer"), _table(spark, data, "supplier")
    return {
        "left_text": EntityFrame.from_wide(cust, "customer", "c_custkey").concat_values(),
        "right_text": EntityFrame.from_wide(supp, "supplier", "s_suppkey").concat_values(),
        "gold": _gold(cust, supp, ("", "")),
        "left_count": cust, "right_count": supp,
    }


def block_embedding(inp: dict, tr: Tracer):
    from klinker_spark.embedding.blockbuilder import KNNBlockBuilder
    from klinker_spark.encoders.hashing import HashingWordEmbedder

    spark = inp["left_text"].sparkSession
    with tr.call("encoders.encode"):
        enc = HashingWordEmbedder()
        encoded = []
        for side in ("left", "right"):
            # the reference's save_encoded step: encodings go to parquet
            path = str(inp["work"] / f"encoded_{side}")
            enc.encode(inp[f"{side}_text"]).write.mode("overwrite").parquet(path)
            encoded.append(spark.read.parquet(path))
    with tr.call("embedding.build_blocks"):
        return KNNBlockBuilder(k=KNN_K).build_blocks(*encoded, "customer", "supplier")


@dataclass(frozen=True)
class Workload:
    load: Callable[..., dict]
    block: Callable[[dict, Tracer], object]
    #: a warm iteration's wall time on a 4-core host; ``--seconds`` over
    #: this is the number of measured iterations
    iteration_s: float
    #: registered DuckDB oracle whose pairs the written blocks must equal
    oracle: str | None = None
    #: the composite ids: 'c'/'s' prefixes, nation entities on both sides
    composite_ids: bool = False


WORKLOADS = {
    "relational-token": Workload(
        load_relational, block_relational, 7.0, "composite_relational_blocking", True
    ),
    "embedding-knn": Workload(load_embedding, block_embedding, 5.0),
    "standard-hub": Workload(load_standard, block_standard, 2.0, "standard_blocking"),
}


# ------------------------------------------------------------------ checks

#: Order-insensitive digest of a pair table: the pair count and two
#: 32-bit slices of md5('left|right') summed over the distinct pairs.
_DIGEST = (
    "SELECT count(*), "
    "sum(('0x' || substr(md5(left_id || '|' || right_id), 1, 8))::BIGINT), "
    "sum(('0x' || substr(md5(left_id || '|' || right_id), 9, 8))::BIGINT) FROM "
)


def open_checker(data: Path, work: Path):
    """A DuckDB connection over the generated tables.  The checks run in
    DuckDB rather than Spark, so they stay independent of the program
    under test and keep the JVM idle between iterations."""
    import duckdb

    con = duckdb.connect(config={"threads": 2, "temp_directory": str(work / "duckdb")})
    for t in ("customer", "supplier", "nation"):
        p = data / f"{t}.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p / '*.parquet' if p.is_dir() else p}')"
        )
    return con


def oracle_expectation(con, wl: Workload) -> dict:
    """Run the workload's registered DuckDB oracle on the generated
    parquet: its pair-set digest, and recall and reduction ratio
    recomputed from its pairs and the gold links."""
    from klinker_spark.queries import ORACLES

    lp, rp = ("'c' || ", "'s' || ") if wl.composite_ids else ("", "")
    nations = " + (SELECT count(*) FROM nation)" if wl.composite_ids else ""
    con.execute(
        "CREATE TABLE pairs AS SELECT DISTINCT CAST(left_id AS VARCHAR) AS left_id, "
        f"CAST(right_id AS VARCHAR) AS right_id FROM ({ORACLES[wl.oracle]})"
    )
    con.execute(
        f"CREATE TABLE gold AS SELECT DISTINCT {lp}CAST(c_custkey AS VARCHAR) AS left_id, "
        f"{rp}CAST(s_suppkey AS VARCHAR) AS right_id "
        "FROM customer JOIN supplier ON c_custkey = 10 * s_suppkey"
    )
    digest = tuple(int(v or 0) for v in con.execute(_DIGEST + "pairs").fetchone())
    tp, n_gold, n_left, n_right = con.execute(
        "SELECT (SELECT count(*) FROM pairs JOIN gold USING (left_id, right_id)), "
        "(SELECT count(*) FROM gold), "
        f"(SELECT count(*) FROM customer){nations}, (SELECT count(*) FROM supplier){nations}"
    ).fetchone()
    return {
        "digest": digest,
        "recall": tp / n_gold,
        "reduction_ratio": 1.0 - digest[0] / (n_left * n_right),
    }


def check_iteration(con, workload: str, path: str, ev, n_left: int, expect: dict) -> None:
    """Raise :class:`CheckFailed` unless the blocks written at ``path``
    and their evaluation ``ev`` are right.  For ``embedding-knn`` the
    first checked iteration sets the expected digest."""
    blocks = f"read_parquet('{path}/*.parquet')"
    digest = tuple(int(v or 0) for v in con.execute(
        _DIGEST + "(SELECT DISTINCT left_id, CAST(unnest(supplier) AS VARCHAR) AS right_id "
        f"FROM (SELECT CAST(unnest(customer) AS VARCHAR) AS left_id, supplier FROM {blocks}))"
    ).fetchone())
    if ev.comparisons != digest[0]:
        raise CheckFailed(f"evaluation counted {ev.comparisons} pairs, blocks hold {digest[0]}")
    if workload == "embedding-knn":
        (short,) = con.execute(f"SELECT count(*) FROM {blocks} WHERE len(supplier) != {KNN_K}").fetchone()
        if short or digest[0] != KNN_K * n_left:
            raise CheckFailed(f"{short} left ids without {KNN_K} neighbours; {digest[0]} pairs")
        expect.setdefault("digest", digest)
    if digest != expect["digest"]:
        raise CheckFailed(f"pair set {digest} differs from expected {expect['digest']}")
    for metric in ("recall", "reduction_ratio"):
        if metric in expect and abs(getattr(ev, metric) - expect[metric]) > 1e-12:
            raise CheckFailed(f"{metric} {getattr(ev, metric)} differs from oracle {expect[metric]}")


# ------------------------------------------------------------------ runner


def iteration(spark, wl: Workload, data: Path, work: Path, tr: Tracer):
    """One pipeline pass; returns its evaluation and the blocks' path."""
    from klinker_spark.data.blocks import BlockManager
    from klinker_spark.eval import Evaluation

    blocks_path = str(work / "blocks")
    with tr.call("data.load"):
        inp = wl.load(spark, data)
    inp["work"] = work
    bm = wl.block(inp, tr)
    with tr.call("data.write"):
        bm.to_parquet(blocks_path)
    with tr.call("data.read"):
        read = BlockManager.read_parquet(spark, blocks_path)
    with tr.call("eval.from_blocks"):
        ev = Evaluation.from_blocks(
            read, inp["gold"], left_count=inp["left_count"], right_count=inp["right_count"]
        )
    return ev, blocks_path


def reset(spark) -> int:
    """Free everything the iteration cached, as ``bench.py`` does between
    lanes; return how many persistent RDDs the iteration had left."""
    import gc

    from klinker_spark.ckpt import release_all

    leaked = len(spark.sparkContext._jsc.getPersistentRDDs())
    spark.catalog.clearCache()
    release_all(spark)
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    return leaked


def start_session(work: Path):
    """A local Spark session on every core, its scratch files in ``work``."""
    import klinker_spark as ks

    local = work / "spark-local"
    local.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={local} -XX:-UsePerfData' pyspark-shell"
    )
    return ks.get_spark("perfbench")


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    spark.stop()
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: float = SCALE, warmup: int = WARMUP, min_iters: int = MIN_ITERS) -> dict:
    wl = WORKLOADS[workload]
    work = WORK_ROOT / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(work)
    sys.path[:0] = [str(ROOT), str(ROOT / "scripts")]
    import gen_testdata

    data = work / "data"
    walls: dict[bool, list[float]] = {False: [], True: []}
    per_call: list[dict] = []
    spans: list[dict] = []
    leaked: list[int] = []
    out_mb: list[float] = []
    busy: list[float] = []
    cpu: list[float] = []
    attempted = failed = 0
    ev = None
    t0 = time.perf_counter()
    with contextlib.redirect_stdout(sys.stderr):
        gen_testdata.generate(scale, str(data), seed)
    con = open_checker(data, work)
    spark = start_session(work)
    try:
        log(f"inputs + session {time.perf_counter() - t0:.2f} s")
        for i in range(warmup):
            w0 = time.perf_counter()
            iteration(spark, wl, data, work, Tracer(spark, -1 - i, False))
            reset(spark)
            log(f"warm-up {i} {time.perf_counter() - w0:.2f} s")
        setup_s = time.perf_counter() - t0
        (n_left,) = con.execute("SELECT count(*) FROM customer").fetchone()
        expect = oracle_expectation(con, wl) if wl.oracle else {}

        cores = spark.sparkContext.defaultParallelism
        iters = max(min_iters, round(seconds / wl.iteration_s)) * (1 + trace)
        while attempted < iters:
            # untraced, traced, traced, untraced, ...: both kinds sit at the
            # same mean position on the JIT warm-up slope
            tr = Tracer(spark, attempted, trace and attempted % 4 in (1, 2))
            attempted += 1
            start = time.perf_counter()
            try:
                ev_i, path = iteration(spark, wl, data, work, tr)
                wall = time.perf_counter() - start
                check_iteration(con, workload, path, ev_i, n_left, expect)
            except Exception:  # a failed iteration is counted, never retried
                failed += 1
                log(f"iteration {tr.iteration} failed:\n{traceback.format_exc()}")
                leaked.append(reset(spark))
                continue
            ev = ev_i
            walls[tr.traced].append(wall)
            log(f"iteration {tr.iteration} traced={int(tr.traced)} {wall:.3f} s (" + " ".join(
                f"{s['name']}={s['end'] - s['start']:.2f}" for s in tr.spans) + ")")
            if tr.traced:
                calls = tr.counters()
                per_call.append(calls)
                run_s = sum(c["run_s"] for c in calls.values())
                busy.append(run_s / (wall * cores))
                cpu.append(sum(c["cpu_s"] for c in calls.values()) / run_s if run_s else 0.0)
                spans.append({"trace": tr.iteration, "name": "iteration", "parent": None,
                              "start": start, "end": start + wall})
                spans.extend(tr.spans)
            out_mb.append(sum(p.stat().st_size for p in Path(path).rglob("*.parquet")) / 1e6)
            leaked.append(reset(spark))
    finally:
        stop_session(spark)
        con.close()
        shutil.rmtree(work, ignore_errors=True)
    rss_mb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024

    if not walls[False] or (trace and not walls[True]):
        raise SystemExit(f"perfbench: too few iterations of {workload} passed their checks")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if not trace:
        values = {
            "pipeline_s": statistics.median(walls[False]),
            "candidate_pairs": ev.comparisons,
            "reduction_ratio": ev.reduction_ratio,
            "setup_s": setup_s,
        }
        result["metrics"] = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        return result

    metrics, spread = {}, {}
    for c in CALLS:
        for counter, unit in COUNTERS.items():
            vals = [it[c][counter] for it in per_call]
            metrics[f"{c}.{counter}"] = {"value": statistics.median(vals), "unit": unit}
            spread[f"{c}.{counter}"] = [min(vals), statistics.median(vals), max(vals)]
    run_level = {
        "data.write.output_mb": statistics.median(out_mb),
        "session.core_busy_frac": statistics.median(busy),
        "session.cpu_frac": statistics.median(cpu),
        "session.jvm_peak_rss_mb": rss_mb,
        "ckpt.leaked_rdds": statistics.median(leaked),
        "bench.trace_overhead_frac":
            statistics.median(walls[True]) / statistics.median(walls[False]) - 1.0,
        "eval.from_blocks.recall": ev.recall,
    }
    metrics.update({k: {"value": v, "unit": RUN_LEVEL[k]} for k, v in run_level.items()})
    spread["ckpt.leaked_rdds"] = [min(leaked), statistics.median(leaked), max(leaked)]
    traces = WORK_ROOT / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    with open(traces / f"{workload}-seed{seed}.jsonl", "w") as f:
        for span in spans:
            f.write(json.dumps(span) + "\n")
        f.write(json.dumps({"spread": spread}) + "\n")
    result["metrics"] = metrics
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Blocking-pipeline benchmark for klinker_spark.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # for the self-test: tiny inputs, no warm-up, one iteration of each kind
    ap.add_argument("--scale", type=float, default=SCALE, help=argparse.SUPPRESS)
    ap.add_argument("--warmup", type=int, default=WARMUP, help=argparse.SUPPRESS)
    ap.add_argument("--min-iters", type=int, default=MIN_ITERS, help=argparse.SUPPRESS)
    a = ap.parse_args(argv)
    missing = [p for p in ("klinker_spark/__init__.py", "scripts/gen_testdata.py")
               if not (ROOT / p).is_file()]
    if missing:
        log(f"run from the repository root; missing {', '.join(missing)}")
        return 2
    result = run(a.workload, a.seed, a.seconds, bool(a.trace), a.scale, a.warmup, a.min_iters)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
