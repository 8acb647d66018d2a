"""Unique-name blocking — join entities on attribute values that are
unique *within each side* (high-precision 1:1 blocks).

Reference: ``UniqueNameBlocker``,
``/root/reference/src/klinker/blockers/token_blocking.py:168-204``
(per-side ``nunique == 1`` filter ``:176-184`` = A10, then the value
equi-join J2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..data.blocks import BlockManager
from ..data.frames import EntityFrame
from .base import Blocker

__all__ = ["UniqueNameBlocker"]


def _unique_pairs(attrs: DataFrame) -> DataFrame:
    """Side-tagged ``(_s, id, prop, value)`` → the 1:1 unique-name
    blocks ``(block_key, left_id, right_id)``.

    One aggregate over both sides: a value is unique on a side iff that
    side's ``min(id) = max(id)`` (:meth:`UniqueNameBlocker._unique_values`'
    rule, null ids skipped), and it is a block iff it is unique on
    both."""

    def ids(agg, s: int):
        return agg(F.when(F.col("_s") == s, F.col("id")))

    return (
        attrs.where(F.col("value").isNotNull())
        .groupBy(F.col("value").alias("block_key"))
        .agg(
            ids(F.min, 0).alias("_lo0"),
            ids(F.max, 0).alias("left_id"),
            ids(F.min, 1).alias("_lo1"),
            ids(F.max, 1).alias("right_id"),
        )
        .where((F.col("_lo0") == F.col("left_id")) & (F.col("_lo1") == F.col("right_id")))
        .select("block_key", "left_id", "right_id")
    )


class UniqueNameBlocker(Blocker):
    """Blocks keyed by values held by exactly one entity per side."""

    @staticmethod
    def _unique_values(frame: EntityFrame) -> DataFrame:
        """A10: the values held by exactly one id → ``(block_key, id)``.

        One aggregate: a value's ids are all equal iff ``min(id) =
        max(id)``, which equals the reference's ``nunique == 1``
        (``count_distinct(id) = 1``) without its second exchange — both
        skip null ids, and an all-null value fails either test."""
        return (
            frame.attrs.where(F.col("value").isNotNull())
            .groupBy(F.col("value").alias("block_key"))
            .agg(F.min(F.col("id")).alias("_lo"), F.max(F.col("id")).alias("id"))
            .where(F.col("_lo") == F.col("id"))
            .select("block_key", "id")
        )

    def assign(
        self,
        left: EntityFrame,
        right: EntityFrame,
        left_rel: DataFrame | None = None,
        right_rel: DataFrame | None = None,
    ) -> BlockManager:
        return BlockManager.from_key_assignments(
            self._unique_values(left),
            self._unique_values(right),
            left.name,
            right.name,
            assume_distinct=True,
        )
