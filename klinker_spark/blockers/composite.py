"""Composite unique-name blocking — a high-precision unique-value pass
first, then attr/rel blockers over only the entities the unique pass
missed.

Reference: ``/root/reference/src/klinker/blockers/composite.py``
(``filter_with_unique`` ``:35-51`` = P10, the flow ``:54-138`` = E5).
The reference's 17-line indicator-merge is a left join keeping the
unmatched rows.

The flow is the one relational flow of :mod:`.relation_aware`
(:class:`~.relation_aware._RelationalFlow`) with the unique pass on,
an attribute branch, and own text in the relation text: one lazy,
cache-free plan over side-tagged frames ``(_s, id, …)`` whose unique
pass, own-text and neighbour-text aggregates, covered-id filter and
token blocking each run once for both sides.  The own text feeding
both the attribute branch and the neighbour concatenation is a
repeated subtree, and exchange reuse computes it once inside the
terminal action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..data.blocks import BlockManager
from ..data.frames import EntityFrame, tag_sides
from .base import SchemaAgnosticBlocker
from .relation_aware import _drop_covered, _RelationalFlow
from .token import TokenBlocker
from .unique_name import _unique_pairs

__all__ = [
    "filter_with_unique",
    "unique_name_blocks",
    "CompositeUniqueNameBlocker",
    "CompositeRelationalTokenBlocker",
]


def unique_name_blocks(left: EntityFrame, right: EntityFrame) -> BlockManager:
    """The composite flows' unique pass as 1:1 blocks.

    The key frames are two projections of
    :func:`~.unique_name._unique_pairs`, so they are effective by
    construction (no semi-join filter) and the covered ids of
    :func:`filter_with_unique` read straight from it."""
    pairs = _unique_pairs(tag_sides(left.attrs, right.attrs))
    return BlockManager.from_key_assignments(
        pairs.select("block_key", F.col("left_id").alias("id")),
        pairs.select("block_key", F.col("right_id").alias("id")),
        left.name,
        right.name,
        assume_distinct=True,
        keys_effective=True,
    )


def filter_with_unique(conc: DataFrame, unique_blocks: BlockManager, side: str) -> DataFrame:
    """Drop entities already covered by unique-name blocks (P10).

    ``conc``: ``(id, ...)`` frame of the named side."""
    return _drop_covered(conc, unique_blocks.covered_ids(side), ["id"])


class CompositeUniqueNameBlocker(_RelationalFlow):
    """Unique-name pass → drop covered entities → attr blocker on the
    rest → rel blocker on neighbor text of the rest → combine (E5)."""

    def __init__(
        self,
        attribute_blocker: SchemaAgnosticBlocker,
        relation_blocker: SchemaAgnosticBlocker,
        top_n_a: int | None = None,
        top_n_r: int | None = None,
        use_unique_name: bool = True,
    ):
        super().__init__(
            attribute_blocker, relation_blocker, top_n_a, top_n_r, use_unique_name=use_unique_name
        )


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
