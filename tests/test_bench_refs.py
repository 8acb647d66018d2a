"""Retry-lane reference policy (bench.py): the per-row reference must be
the MINIMUM across recent committed BENCH_LOCAL.json versions, not the
single latest artifact — a flap-inflated committed row must not mask a
real outlier in the next run (r12: golden_records committed at 27.6 s
hid an 11.5 s sample whose healthy history is ~5 s).
"""

from __future__ import annotations

import json
import os
import subprocess

import pytest

import bench

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _head_artifact():
    try:
        raw = subprocess.run(
            ["git", "-C", HERE, "show", "HEAD:BENCH_LOCAL.json"],
            capture_output=True,
            text=True,
            timeout=30,
        ).stdout
        return json.loads(raw)
    except Exception:
        return None


def test_compact_line_never_drops_the_per_query_map():
    """r12 verdict #1: the compact stdout line overflowed its budget and
    fell back to ``{"queries": {"total_only": ...}}`` — the driver got
    ZERO per-query timings.  The line must carry every headline lane
    even in the worst case (26 long-named lanes, max retries)."""
    timings = {name: 123.456 for name in bench.BENCH_QUERIES}
    assert len(timings) == 26
    full = {
        "metric": "headline_suite_wall_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "warm_lane": "cache-warm-r11",
        "warm_total": 999.999,
        "curation_total": 999.999,
        "sf1_total": 9999.999,
        "sf1": {"total": 9999.999},
    }
    line = bench._compact_line(full, n_retries=30)
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
        "warm_lane": "cache-warm-r11",
        "warm_total": 1.0,
        "curation_total": 1.0,
        "sf1_total": 1.0,
        "sf1": {"total": 1.0},
    }
    line = bench._compact_line(full, n_retries=30)
    parsed = json.loads(line)
    assert set(parsed["queries"]) == set(timings)
    assert "retries" not in parsed  # first shed
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
    line = bench._compact_line(full, n_retries=0)
    assert len(line) > bench._COMPACT_MAX_CHARS
    assert set(json.loads(line)["queries"]) == set(timings)
    assert "over the 1900-char budget" in capsys.readouterr().err
    assert bench._compact_line({**full, "queries": {"q": 1.0}}, n_retries=0)
    assert capsys.readouterr().err == ""


def test_retry_lane_prioritizes_biggest_outliers(monkeypatch):
    """Under the per-lane cap the retries must go to the rows whose
    cold/ref ratio is largest — r13 run 1 burned all slots on 2-3x rows
    in dict order while an 8x outlier fell off the cap unretried."""
    monkeypatch.setattr(bench, "_RETRY_CAP_PER_LANE", 2)
    bench._RETRY.clear()
    timings = {"mild_a": 3.0, "huge": 40.0, "mild_b": 2.5, "big": 9.0}
    refs = {("x", n): 1.0 for n in timings}
    ran = []
    bench._retry_outliers("x", timings, refs, lambda n: ran.append(n) or 1.0)
    assert ran == ["huge", "big"]
    bench._RETRY.clear()


def test_retry_refs_are_min_across_committed_history():
    head = _head_artifact()
    if not head:
        pytest.skip("no committed BENCH_LOCAL.json (gitless checkout)")
    refs = bench._committed_refs()
    assert refs, "committed refs must parse"
    checked = 0
    for lane, sec in (
        ("headline", "queries"),
        ("curation", "queries_curation"),
        ("extras", "queries_extra"),
    ):
        for name, t in (head.get(sec) or {}).items():
            if isinstance(t, (int, float)) and t > 0:
                # min over history can only be <= the latest committed row
                assert refs[(lane, name)] <= float(t) + 1e-9
                checked += 1
    assert checked > 20, "expected a populated reference table"
