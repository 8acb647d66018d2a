"""Shared fixtures — mirrors the reference's test pyramid
(``/root/reference/tests/conftest.py:8-72``): two 5-row person tables
with *different* schemas (schema-agnostic ops must not assume matching
columns), plus their EAV ("triplified") form via ``EntityFrame``.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

from klinker_spark.data.frames import EntityFrame
from klinker_spark.session import CODEGEN_CACHE_ENTRIES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    session = (
        SparkSession.builder.master("local[4]")
        .appName("klinker_spark_tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session



def jobs_in_group(spark, group, action):
    """``action()``'s result and the number of Spark jobs it ran, counted
    under the job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


TABLE_A_COLUMNS = ["id", "Name", "Birthdate", "BirthCountry", "Occupation"]
TABLE_A_ROWS = [
    ("a1", "John McExample", "11-12-1973", "USA", "Engineer"),
    ("a2", "Maggie Smith", "02-02-1983", "USA", "Scientist"),
    ("a3", "Rebecca Smith", "04-12-1990", "Bulgaria", "Chemist"),
    ("a4", "Nushi Devi", "14-03-1990", "India", None),
    ("a5", "Grzegorz Brzęczyszczykiewicz", "02-04-1970", "Poland", "Soldier"),
]

TABLE_B_COLUMNS = ["id", "FirstName", "GivenName", "Birthdate", "BirthCountry"]
TABLE_B_ROWS = [
    ("b1", "John", "McExample", "11-12-1973", None),
    ("b2", "Maggie", "Smith", "02-02-1983", "USA"),
    ("b3", "Rebecca", "Smith", "04-12-1990", "Bulgaria"),
    ("b4", "Anh", "Nguyen", "04-12-1990", "Indonesia"),
    ("b5", "Nushi", "Zhang", "21-08-1989", "China"),
]


@pytest.fixture(scope="session")
def table_a(spark):
    return spark.createDataFrame(TABLE_A_ROWS, TABLE_A_COLUMNS)


@pytest.fixture(scope="session")
def table_b(spark):
    return spark.createDataFrame(TABLE_B_ROWS, TABLE_B_COLUMNS)


@pytest.fixture(scope="session")
def frame_a(table_a):
    return EntityFrame.from_wide(table_a, name="A")


@pytest.fixture(scope="session")
def frame_b(table_b):
    return EntityFrame.from_wide(table_b, name="B")


def blocks_as_dict(bm):
    """Blocks DataFrame → {block_key: (set(left), set(right))} for
    set-equal golden comparison (reference ``tests/util.py:4-14``)."""
    return {
        row["block_key"]: (
            set(row[bm.left_name] or []),
            set(row[bm.right_name] or []),
        )
        for row in bm.df.collect()
    }
