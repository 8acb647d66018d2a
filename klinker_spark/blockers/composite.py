"""Composite unique-name blocking — a high-precision unique-value pass
first, then attr/rel blockers over only the entities the unique pass
missed.

Reference: ``/root/reference/src/klinker/blockers/composite.py``
(``filter_with_unique`` ``:35-51`` = P10, the flow ``:54-138`` = E5).
The reference's 17-line indicator-merge is Spark's built-in
``left_anti`` join.

``assign`` builds one lazy plan: it runs no Spark job and caches
nothing.  Every shared subplan (the unique join, each side's own text)
is a repeated subtree of that plan, and exchange reuse computes it
once inside the terminal action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..data.blocks import BlockManager
from ..data.frames import EntityFrame
from .base import Blocker, SchemaAgnosticBlocker
from .relation_aware import _ConcatRelationalInfo
from .token import TokenBlocker
from .unique_name import UniqueNameBlocker

__all__ = [
    "filter_with_unique",
    "unique_name_blocks",
    "CompositeUniqueNameBlocker",
    "CompositeRelationalTokenBlocker",
]


def unique_name_blocks(left: EntityFrame, right: EntityFrame) -> BlockManager:
    """The composite flows' unique pass as 1:1 blocks.

    Each side's unique values (one aggregate each, see
    :meth:`UniqueNameBlocker._unique_values`) are inner-joined on the
    value; every joined row is a block with one id per side.  The key
    frames are two projections of that join, so they are effective by
    construction (no semi-join filter) and the covered ids of
    :func:`filter_with_unique` read straight from it."""
    lu = UniqueNameBlocker._unique_values(left).withColumnRenamed("id", "left_id")
    ru = UniqueNameBlocker._unique_values(right).withColumnRenamed("id", "right_id")
    joined = lu.join(ru, "block_key")
    return BlockManager.from_key_assignments(
        joined.select("block_key", F.col("left_id").alias("id")),
        joined.select("block_key", F.col("right_id").alias("id")),
        left.name,
        right.name,
        assume_distinct=True,
        keys_effective=True,
    )


def filter_with_unique(conc: DataFrame, unique_blocks: BlockManager, side: str) -> DataFrame:
    """Drop entities already covered by unique-name blocks (P10).

    ``conc``: ``(id, ...)`` frame; the covered ids are the anti-join's
    build side, the join Spark has built in (``composite.py:35-51``)."""
    return conc.join(unique_blocks.covered_ids(side), "id", "left_anti")


class CompositeUniqueNameBlocker(_ConcatRelationalInfo, Blocker):
    """Unique-name pass → anti-join covered entities → attr blocker on
    the rest → rel blocker on neighbor text of the rest → combine (E5).

    Each side's own text (``concat_values``) is built once and feeds
    both the attribute branch and the neighbor concatenation.  The
    covered entities are dropped after the concatenation: both are per
    id, so this equals dropping their attributes before it."""

    def __init__(
        self,
        attribute_blocker: SchemaAgnosticBlocker,
        relation_blocker: SchemaAgnosticBlocker,
        top_n_a: int | None = None,
        top_n_r: int | None = None,
        use_unique_name: bool = True,
    ):
        super().__init__(top_n_a, top_n_r)
        self._attribute_blocker = attribute_blocker
        self._relation_blocker = relation_blocker
        self.use_unique_name = use_unique_name

    def _rel_input(self, frame: EntityFrame, rels: DataFrame, own_text: DataFrame) -> DataFrame:
        """Per-side input of the relation branch: neighbor text."""
        return self._conc(frame, rels, True, own_text=own_text)

    def _rel_blocks(
        self, left: DataFrame, right: DataFrame, left_name: str, right_name: str
    ) -> BlockManager:
        return self._relation_blocker._assign(left, right, left_name, right_name)

    def assign(
        self,
        left: EntityFrame,
        right: EntityFrame,
        left_rel: DataFrame | None = None,
        right_rel: DataFrame | None = None,
    ) -> BlockManager:
        assert left_rel is not None and right_rel is not None
        l_own, r_own = left.concat_values(), right.concat_values()
        l_rel = self._rel_input(left, left_rel, l_own)
        r_rel = self._rel_input(right, right_rel, r_own)
        managers = []
        if self.use_unique_name:
            unique = unique_name_blocks(left, right)
            l_own, l_rel = (filter_with_unique(d, unique, left.name) for d in (l_own, l_rel))
            r_own, r_rel = (filter_with_unique(d, unique, right.name) for d in (r_own, r_rel))
            managers.append(unique)
        managers.append(self._attribute_blocker.assign_text(l_own, r_own, left.name, right.name))
        managers.append(self._rel_blocks(l_rel, r_rel, left.name, right.name))
        return BlockManager.combine_all(managers)


class CompositeRelationalTokenBlocker(CompositeUniqueNameBlocker):
    """Token/token composite (reference concrete classes
    ``composite.py:141-504`` parameterize the same flow)."""

    def __init__(
        self,
        attr_min_token_length: int = 3,
        rel_min_token_length: int = 3,
        top_n_a: int | None = None,
        top_n_r: int | None = None,
        use_unique_name: bool = True,
    ):
        super().__init__(
            TokenBlocker(min_token_length=attr_min_token_length),
            TokenBlocker(min_token_length=rel_min_token_length),
            top_n_a,
            top_n_r,
            use_unique_name,
        )
