"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All registrations live in ``klinker_spark.queries``; this module is the
thin adapter the driver imports.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: SimpleRelationalTokenBlocker (the reference
    paper's headline method) end-to-end on sf0.001.

    Also prebuilds the persisted ANN indexes for the sf0.01 gate scale
    (idempotent disk-cached, deterministic hash-sample quantizers), so
    any indexed query the correctness gate runs measures SEARCH, not a
    one-off index build (r6 verdict #6)."""
    from klinker_spark.queries import QUERIES

    for prebuild in ("ann_topk_ivfpq_indexed_md5", "ann_topk_ivf_indexed"):
        try:
            QUERIES[prebuild](spark, "/root/testdata/sf0.01")
        except Exception as ex:  # smoke must not fail on index prebuild,
            # but a broken build must surface HERE, not as an opaque
            # gate failure later
            print(f"# entry(): ANN index prebuild {prebuild} failed: {ex}", file=sys.stderr)

    return QUERIES["relational_token_blocking"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from klinker_spark.ckpt import release_all
    from klinker_spark.queries import QUERIES

    def _with_hygiene(fn: Callable[[SparkSession, str], DataFrame]):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            # the gate runs hundreds of rows in one session and acts on
            # each returned lazy frame after this call returns, so a row
            # cannot run inside a ckpt.scope(): caches a query hands to
            # its caller must outlive the call.  Free the previous row's
            # caches here instead, before they evict-churn later rows.
            release_all(spark)
            return fn(spark, sf_dir)

        return run

    return {name: _with_hygiene(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from klinker_spark.queries import ORACLES

    return dict(ORACLES)
