"""Golden-block tests for the cheap blockers, modeled on the reference's
``tests/test_blockers.py:67-188`` but with goldens re-derived for this
engine's documented tokenizer semantics (regex split, SURVEY §2 P5 note).
"""

from __future__ import annotations

import pytest

from klinker_spark.blockers import (
    QgramsBlocker,
    StandardBlocker,
    TokenBlocker,
    UniqueNameBlocker,
)
from klinker_spark.data.blocks import BlockManager

from conftest import blocks_as_dict


EXPECTED_STANDARD = {
    "USA": ({"a1", "a2"}, {"b2"}),
    "Bulgaria": ({"a3"}, {"b3"}),
}

EXPECTED_QGRAMS = {
    "USA": ({"a1", "a2"}, {"b2"}),
    "Bul": ({"a3"}, {"b3"}),
    "ulg": ({"a3"}, {"b3"}),
    "lga": ({"a3"}, {"b3"}),
    "gar": ({"a3"}, {"b3"}),
    "ari": ({"a3"}, {"b3"}),
    "ria": ({"a3"}, {"b3"}),
    "Ind": ({"a4"}, {"b4"}),
}

# Regex tokenizer: lowercase, split [^a-z0-9]+, len>=3, stopwords out.
EXPECTED_TOKEN = {
    "john": ({"a1"}, {"b1"}),
    "mcexample": ({"a1"}, {"b1"}),
    "1973": ({"a1"}, {"b1"}),
    "maggie": ({"a2"}, {"b2"}),
    "smith": ({"a2", "a3"}, {"b2", "b3"}),
    "1983": ({"a2"}, {"b2"}),
    "usa": ({"a1", "a2"}, {"b2"}),
    "rebecca": ({"a3"}, {"b3"}),
    "1990": ({"a3", "a4"}, {"b3", "b4"}),
    "bulgaria": ({"a3"}, {"b3"}),
    "nushi": ({"a4"}, {"b5"}),
}


def test_standard_blocker(frame_a, frame_b):
    bm = StandardBlocker("BirthCountry").assign(frame_a, frame_b)
    assert blocks_as_dict(bm) == EXPECTED_STANDARD


def test_qgrams_blocker(frame_a, frame_b):
    bm = QgramsBlocker("BirthCountry", q=3).assign(frame_a, frame_b)
    assert blocks_as_dict(bm) == EXPECTED_QGRAMS


def test_token_blocker(frame_a, frame_b):
    bm = TokenBlocker().assign(frame_a, frame_b)
    assert blocks_as_dict(bm) == EXPECTED_TOKEN


def test_token_blocker_max_block_size(frame_a, frame_b):
    bm = TokenBlocker(max_block_size=1).assign(frame_a, frame_b)
    got = blocks_as_dict(bm)
    assert "smith" not in got and "1990" not in got
    assert got["john"] == ({"a1"}, {"b1"})


def test_token_blocker_purge_flag(frame_a, frame_b):
    eager = TokenBlocker(purge=True).assign(frame_a, frame_b)
    posthoc = TokenBlocker().assign(frame_a, frame_b).purge()
    assert blocks_as_dict(eager) == blocks_as_dict(posthoc)


def test_unique_name_blocker(frame_a, frame_b):
    bm = UniqueNameBlocker().assign(frame_a, frame_b)
    got = blocks_as_dict(bm)
    # values unique per side and present in both sides
    assert got["11-12-1973"] == ({"a1"}, {"b1"})
    assert got["Bulgaria"] == ({"a3"}, {"b3"})
    # "04-12-1990" appears for b3 & b4 -> not unique on B side
    assert "04-12-1990" not in got
    # "USA" appears for a1 & a2 -> not unique on A side
    assert "USA" not in got


def test_unique_values_min_max_rule_equals_count_distinct(spark):
    """The one-aggregate rule ``min(id) = max(id)`` keeps exactly the
    values ``count_distinct(id) = 1`` keeps, with the same owner id."""
    from pyspark.sql import functions as F

    from klinker_spark.data.frames import EntityFrame

    attrs = spark.createDataFrame(
        [
            ("a1", "p", "solo"),
            ("a2", "p", "twice"),  # duplicate (value, id) rows: still unique
            ("a2", "q", "twice"),
            ("a3", "p", "shared"),  # one value, two ids: not unique
            ("a4", "p", "shared"),
            ("a5", "p", None),  # null values never form a block
            ("a6", "p", None),
            ("a7", "p", "half"),  # a null id beside one real id
            (None, "p", "half"),
            (None, "p", "ghost"),  # only null ids
        ],
        "id string, prop string, value string",
    )
    got = UniqueNameBlocker._unique_values(EntityFrame(attrs, "A"))
    want = (
        attrs.where(F.col("value").isNotNull())
        .groupBy(F.col("value").alias("block_key"))
        .agg(F.count_distinct("id").alias("n"), F.max("id").alias("id"))
        .where("n = 1")
        .select("block_key", "id")
    )
    rows = {tuple(r) for r in got.collect()}
    assert rows == {tuple(r) for r in want.collect()}
    assert rows == {("solo", "a1"), ("twice", "a2"), ("half", "a7")}


def test_parquet_roundtrip(frame_a, frame_b, tmp_path, spark):
    bm = StandardBlocker("BirthCountry").assign(frame_a, frame_b)
    path = str(tmp_path / "blocks")
    bm.to_parquet(path)
    back = BlockManager.read_parquet(spark, path)
    assert blocks_as_dict(back) == EXPECTED_STANDARD
    assert back.left_name == "A" and back.right_name == "B"


@pytest.mark.parametrize("distinct", [True, False])
def test_pairs(frame_a, frame_b, distinct):
    bm = StandardBlocker("BirthCountry").assign(frame_a, frame_b)
    pairs = {tuple(r) for r in bm.pairs(distinct=distinct).collect()}
    assert pairs == {("a1", "b2"), ("a2", "b2"), ("a3", "b3")}


def test_token_cap_plan_has_no_hot_key_window(spark):
    """r10: the max_block_size cap must be groupBy + broadcast
    anti-join (hot key absorbed map-side), never a window partitioned
    by the token — a window funnels the entire hot block through one
    task before dropping it."""
    from klinker_spark.blockers.token import TokenBlocker
    from klinker_spark.session import local_df

    left = local_df(
        spark, [("a1", "hot common rare"), ("a2", "hot common")], "id string, text string"
    )
    right = local_df(spark, [("b1", "hot common")], "id string, text string")
    bm = TokenBlocker(max_block_size=2)._assign(left, right, "A", "B")
    plan = bm.block_pairs()._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "LeftAnti" in plan
