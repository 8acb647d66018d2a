"""Event-sequence analytics — funnel conversion, cohort retention,
Markov transitions, top paths, and time-grid gap filling over an
event stream.

Net-new warehouse operators for the `events` table (the reference has
no event surface; these are the standard product-analytics queries a
training-data/telemetry pipeline runs next to curation).  Every
operator is expressed so the only shuffles are keyed by ``user_id``
(or the final small group key), and every ordering is the total order
``(ts, event_id)`` so results are deterministic under timestamp ties.

Scale shapes:

- :func:`funnel_steps` — k chained per-user min-aggregates (k = number
  of funnel steps, typically 3-5).  Each step is one
  ``groupBy(user)`` + one join against the previous step's one-row-
  per-user frame; all k shuffles hash on the SAME key, and the
  per-user state is a single struct — never a collected event list,
  so a power user with millions of events costs the same as anyone
  else.
- :func:`retention_cohorts` — one first-touch aggregate + one
  user-keyed join back + one small (cohort, offset) aggregate.
  ``countDistinct(user)`` is the only wide agg; Spark's partial
  distinct handles it map-side.
- :func:`event_transitions` — one window pass (lag) over the user
  partitioning + a tiny (from, to) aggregate; probabilities are
  ppm-rounded so the output is integer-exact cross-engine.
- :func:`top_event_paths` — row_number window, keep the first k
  events per user (bounds per-user state at k), assemble the path
  string order-safely via ``array_sort(collect_list(struct(rn, ·)))``.
- :func:`gap_fill_hourly` — per-user hour grid via ``sequence()`` +
  explode (grid rows, not event rows, dominate: |users| × hours), one
  per-(user, hour) last-event aggregate, one forward-fill window
  (``last(ignorenulls)``) over the user partitioning.  The carried
  value is copied, never recomputed, so the fill is bit-exact.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import ckpt

__all__ = [
    "funnel_steps",
    "retention_cohorts",
    "event_transitions",
    "top_event_paths",
    "gap_fill_hourly",
]


@ckpt.scope()
def funnel_steps(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tie_col: str = "event_id",
    step_within_us: int | None = None,
) -> DataFrame:
    """Ordered-funnel conversion: for each step i, the number of users
    with an event of type ``steps[i]`` STRICTLY after their step-(i-1)
    completion (first qualifying event, ties broken by ``tie_col``).
    ``step_within_us`` additionally bounds each CONSECUTIVE step gap
    (step i within that many µs of step i-1 — the per-step-gap funnel;
    the whole-window variant anchors on step 1 instead and is one
    inequality swap away).

    Returns ``(step, event_type, n_users, conv_ppm)`` where
    ``conv_ppm`` is users-at-step / users-at-step-1 in parts per
    million (round-half-up, integer-exact).
    """
    if not steps:
        raise ValueError("funnel_steps: need at least one step")
    key = F.struct(F.col(ts_col).alias("t"), F.col(tie_col).alias("i"))
    prev = None  # DataFrame (user, _reached) of the previous step
    counts = []  # python-side tiny list: one row per step
    for idx, ev_type in enumerate(steps):
        stage = events.where(F.col(type_col) == ev_type)
        if prev is None:
            reached = stage.groupBy(user_col).agg(F.min(key).alias("_reached"))
        else:
            cond = key > F.col("_reached")
            if step_within_us is not None:
                cond = cond & (
                    F.expr(f"unix_micros({ts_col})")
                    <= F.expr("unix_micros(_reached.t)") + F.lit(step_within_us)
                )
            reached = (
                stage.join(prev, user_col)
                .where(cond)
                .groupBy(user_col)
                .agg(F.min(key).alias("_reached"))
            )
        reached = ckpt.persist(reached)
        counts.append((idx + 1, ev_type, reached.count()))
        ckpt.release(prev)
        prev = reached
    base = counts[0][2]
    spark = events.sparkSession
    # integer half-up ppm: (2e6·n + base) // (2·base) — no float round,
    # so any SQL engine reproduces it with the same integer expression
    rows = [
        (step, ev_type, n, (2_000_000 * n + base) // (2 * base) if base else None)
        for step, ev_type, n in counts
    ]
    return spark.createDataFrame(
        rows, "step INT, event_type STRING, n_users BIGINT, conv_ppm BIGINT"
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    anchor_day: int = 19723,  # days('2024-01-01') since the Unix epoch
) -> DataFrame:
    """Weekly cohort retention: cohort = 7-day bucket (since
    ``anchor_day``) of a user's first event; for each (cohort,
    week-offset) the number of distinct users active that week.

    All bucketing is integer epoch-day arithmetic (``unix_micros DIV``
    — the repo's proven cross-engine time lane): no calendar/date
    functions, so no engine week-start or timezone conventions are
    involved.
    """
    day = F.expr(f"unix_micros({ts_col}) DIV 86400000000")
    first = events.groupBy(user_col).agg(F.min(day).alias("_first_day"))
    return (
        events.select(F.col(user_col), day.alias("_day"))
        .join(first, user_col)
        .select(
            # floor (not cast-truncate): days before the anchor give
            # negative numerators, and the DuckDB oracle's `// 7` floors
            F.floor((F.col("_first_day") - anchor_day) / 7)
            .cast("int")
            .alias("cohort_week"),
            # _day - _first_day >= 0 by construction, but keep floor for
            # symmetry with the oracle's integer `// 7`
            F.floor((F.col("_day") - F.col("_first_day")) / 7)
            .cast("int")
            .alias("week_offset"),
            F.col(user_col),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct(user_col).alias("n_users"))
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tie_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition counts + ppm probabilities over
    each user's (ts, tie)-ordered event sequence.

    Returns ``(from_type, to_type, n, prob_ppm)`` with ``prob_ppm``
    = round(1e6 · n / Σ n over from_type) — integer-exact ppm via
    round-at-the-ratio (both engines see the identical small-int
    ratio, and .5 cases can only arise from exact halves).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tie_col)
    trans = (
        events.select(
            F.col(user_col),
            F.lag(type_col).over(w).alias("from_type"),
            F.col(type_col).alias("to_type"),
        )
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_tot = Window.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        "n",
        F.round(1_000_000.0 * F.col("n") / F.sum("n").over(row_tot))
        .cast("bigint")
        .alias("prob_ppm"),
    )


def top_event_paths(
    events: DataFrame,
    k: int = 3,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tie_col: str = "event_id",
) -> DataFrame:
    """Path analysis: each user's first ``k`` event types joined with
    ``>``, counted across users.  Per-user state is capped at k structs
    (the row_number filter runs BEFORE the collect), so the collect can
    never blow up on a heavy user.

    Returns ``(path, n_users)``.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tie_col)
    firsts = (
        events.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .groupBy(user_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_rn", type_col))),
                    lambda s: s[type_col],
                ),
                ">",
            ).alias("path")
        )
    )
    return firsts.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))


def gap_fill_hourly(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tie_col: str = "event_id",
) -> DataFrame:
    """Regularize an irregular per-user series onto an hourly grid with
    forward fill (the time-series `LOCF` operator): one row per (user,
    hour) between the user's first and last event hour; ``filled`` is
    the value of the latest event at-or-before that hour.

    The carried value is COPIED from the source row (``last``
    ignorenulls over the user partitioning), never recomputed, so
    doubles survive bit-exact.  Within an hour the last event wins,
    ordered by the total order (ts, tie) via one struct max.
    """
    hour = F.expr(f"unix_micros({ts_col}) DIV 3600000000")
    per_hour = (
        events.select(
            F.col(user_col),
            hour.alias("hour_idx"),
            F.struct(
                F.col(ts_col).alias("t"),
                F.col(tie_col).alias("i"),
                F.col(value_col).alias("v"),
            ).alias("_last"),
        )
        .groupBy(user_col, "hour_idx")
        .agg(F.max("_last")["v"].alias("_hour_val"))
    )
    spans = per_hour.groupBy(user_col).agg(
        F.min("hour_idx").alias("_h0"), F.max("hour_idx").alias("_h1")
    )
    grid = spans.select(
        user_col, F.explode(F.sequence("_h0", "_h1")).alias("hour_idx")
    )
    w = (
        Window.partitionBy(user_col)
        .orderBy("hour_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(per_hour, [user_col, "hour_idx"], "left")
        .withColumn("filled", F.last("_hour_val", ignorenulls=True).over(w))
        .select(
            user_col,
            "hour_idx",
            F.col("_hour_val").isNotNull().alias("observed"),
            "filled",
        )
    )
