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
