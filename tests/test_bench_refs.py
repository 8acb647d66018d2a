"""bench.py: the stdout line and the lane runner.

The stdout line must keep the full per-query map within its character
budget.  ``run_lane`` must return the documented run record, run the
lane inside a cache scope (nothing left persisted) and leave no job
group set behind it, also when the query raises.
"""

from __future__ import annotations

import json

import pytest

import bench
from conftest import SF_DIR


def test_compact_line_never_drops_the_per_query_map():
    """The line carries every headline lane even in the worst case (26
    long-named lanes, all totals at their widest): a fallback to a
    total alone would leave the reader no per-query timings."""
    timings = {name: 123.456 for name in bench.BENCH_QUERIES}
    assert len(timings) == 26
    full = {
        "metric": "headline_suite_wall_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "warm_lane": bench.WARM_LANE,
        "warm_total": 999.999,
        "curation_total": 999.999,
        "sf1_total": 9999.999,
        "sf1": {"total": 9999.999},
    }
    line = bench._compact_line(full)
    assert len(line) <= bench._COMPACT_MAX_CHARS
    parsed = json.loads(line)
    assert set(parsed["queries"]) == set(bench.BENCH_QUERIES)
    assert all(v == 123.456 for v in parsed["queries"].values())
    assert parsed["value"] == full["value"]
    # worst case must not even need the shed ladder — section totals
    # survive alongside the full map
    for key in ("warm_total", "curation_total", "sf1_total"):
        assert key in parsed


def test_compact_line_sheds_optional_fields_before_query_precision():
    """If the line ever exceeds the budget, optional fields go first in
    the documented order; the per-query map is trimmed to 2 decimals as
    a last resort and never replaced by a total."""
    # pathological: 60 synthetic long lanes force the shed ladder
    timings = {f"synthetic_lane_with_a_very_long_name_{i:03d}": 1234.567
               for i in range(60)}
    full = {
        "metric": "headline_suite_wall_time",
        "value": 1.0,
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "warm_lane": bench.WARM_LANE,
        "warm_total": 1.0,
        "curation_total": 1.0,
        "sf1_total": 1.0,
        "sf1": {"total": 1.0},
    }
    line = bench._compact_line(full)
    parsed = json.loads(line)
    assert set(parsed["queries"]) == set(timings)
    assert "warm_lane" not in parsed  # first shed
    assert all(v == 1234.57 for v in parsed["queries"].values())


def test_compact_line_warns_when_still_over_budget(capsys):
    """A per-query map too big for the budget even at 2 decimals keeps
    every lane and says so on stderr."""
    timings = {f"synthetic_lane_with_a_very_long_name_{i:03d}": 1.0 for i in range(200)}
    full = {
        "metric": "headline_suite_wall_time", "value": 1.0, "unit": "sec",
        "queries": timings, "sf": 0.1, "warm_lane": "w", "warm_total": 1.0,
        "curation_total": 1.0, "sf1": {"total": 1.0},
    }
    line = bench._compact_line(full)
    assert len(line) > bench._COMPACT_MAX_CHARS
    assert set(json.loads(line)["queries"]) == set(timings)
    assert "over the 1900-char budget" in capsys.readouterr().err
    assert bench._compact_line({**full, "queries": {"q": 1.0}})
    assert capsys.readouterr().err == ""


RECORD_KEYS = {
    "wall", "build", "action", "jobs", "stages", "tasks", "run_s", "cpu_s",
    "gc_s", "shuffle_write_mb", "spill_mb", "codegen",
    "heap_mb", "leaked_rdds",
}


def test_run_lane_record(spark):
    """minhash_dedup caches its signatures: the scope must free them."""
    rec = bench.run_lane(spark, "minhash_dedup", SF_DIR)
    assert set(rec) == RECORD_KEYS
    assert rec["jobs"] >= 1 and rec["stages"] >= 1 and rec["tasks"] >= 1
    assert rec["leaked_rdds"] == 0
    assert rec["build"] + rec["action"] == pytest.approx(rec["wall"], abs=0.002)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_run_lane_clears_job_group_when_the_query_raises(spark, monkeypatch):
    from klinker_spark.queries import QUERIES

    def boom(spark, sf_dir):
        spark.range(3).count()  # one job under the lane's group
        raise RuntimeError("boom")

    monkeypatch.setitem(QUERIES, "bench_test_boom", boom)
    with pytest.raises(RuntimeError, match="boom"):
        bench.run_lane(spark, "bench_test_boom", SF_DIR)
    sc = spark.sparkContext
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert sc.getLocalProperty("spark.job.description") is None
