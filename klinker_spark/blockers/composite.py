"""Composite unique-name blocking — a high-precision unique-value pass
first, then attr/rel blockers over only the entities the unique pass
missed.

Reference: ``/root/reference/src/klinker/blockers/composite.py``
(``filter_with_unique`` ``:35-51`` = P10, the flow ``:54-138`` = E5).
The reference's 17-line indicator-merge is a left join keeping the
unmatched rows.

``assign`` builds one lazy plan over side-tagged frames ``(_s, id,
…)``, ``_s`` = 0 left and 1 right (:func:`~..data.frames.tag_sides`):
the unique pass, the own-text and neighbour-text aggregates, the
covered-id filter and token blocking each run once for both sides.  It
runs no Spark job and caches nothing; the own text feeding both the
attribute branch and the neighbour concatenation is a repeated subtree,
and exchange reuse computes it once inside the terminal action.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..data.blocks import BlockManager
from ..data.frames import EntityFrame, side_of, tag_sides
from .base import Blocker, SchemaAgnosticBlocker
from .relation_aware import _ConcatRelationalInfo
from .token import TokenBlocker

__all__ = [
    "filter_with_unique",
    "unique_name_blocks",
    "CompositeUniqueNameBlocker",
    "CompositeRelationalTokenBlocker",
]


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


def unique_name_blocks(left: EntityFrame, right: EntityFrame) -> BlockManager:
    """The composite flows' unique pass as 1:1 blocks.

    The key frames are two projections of :func:`_unique_pairs`, so
    they are effective by construction (no semi-join filter) and the
    covered ids of :func:`filter_with_unique` read straight from it."""
    pairs = _unique_pairs(tag_sides(left.attrs, right.attrs))
    return BlockManager.from_key_assignments(
        pairs.select("block_key", F.col("left_id").alias("id")),
        pairs.select("block_key", F.col("right_id").alias("id")),
        left.name,
        right.name,
        assume_distinct=True,
        keys_effective=True,
    )


def _drop_covered(frame: DataFrame, covered: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of ``frame`` whose ``keys`` are not in ``covered``.

    A left join keeping the unmatched rows: unlike a ``left_anti``
    join, Catalyst does not push it below ``frame``'s aggregate, so the
    filtered and unfiltered aggregates stay one subplan that exchange
    reuse computes once.  Repeated covered keys only multiply rows that
    are dropped.  No broadcast hint: a small covered set plans as a
    broadcast join, a large one as a sort-merge join that reuses the
    aggregate's partitioning on ``keys``."""
    hit = covered.select(*keys, F.lit(True).alias("_covered"))
    return (
        frame.join(hit, keys, "left")
        .where(F.col("_covered").isNull())
        .drop("_covered")
    )


def filter_with_unique(conc: DataFrame, unique_blocks: BlockManager, side: str) -> DataFrame:
    """Drop entities already covered by unique-name blocks (P10).

    ``conc``: ``(id, ...)`` frame of the named side."""
    return _drop_covered(conc, unique_blocks.covered_ids(side), ["id"])


def _branch_keys(
    assign: Callable[[DataFrame, DataFrame, str, str], BlockManager],
    tagged: DataFrame,
    names: tuple[str, str],
) -> DataFrame:
    """A per-side branch ``assign(left, right, left_name, right_name)``
    fed by the two sides of a side-tagged frame; its key frames
    side-tagged again, ``(block_key, id, _s)``."""
    return assign(side_of(tagged, 0), side_of(tagged, 1), *names).side_tagged_keys()


class CompositeUniqueNameBlocker(_ConcatRelationalInfo, Blocker):
    """Unique-name pass → drop covered entities → attr blocker on the
    rest → rel blocker on neighbor text of the rest → combine (E5).

    The own text (``concat_values``) is built once and feeds both the
    attribute branch and the neighbor concatenation.  The covered
    entities are dropped after the concatenation: both are per id, so
    this equals dropping their attributes before it.

    Token branches tokenize the side-tagged text once; any other branch
    runs its per-side ``_assign`` (or ``assign_text``, which purges) on
    the two sides and its key frames are tagged again."""

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

    def _rel_input(self, attrs: DataFrame, rels: DataFrame, own_text: DataFrame) -> DataFrame:
        """Side-tagged input of the relation branch: neighbor text."""
        return self._conc(EntityFrame(attrs, ""), rels, True, own_text=own_text)

    def _attr_keys(self, own_text: DataFrame, names: tuple[str, str]) -> DataFrame:
        b = self._attribute_blocker
        if isinstance(b, TokenBlocker) and not b._purge:
            return b._tok_keys(own_text)
        return _branch_keys(b.assign_text, own_text, names)

    def _rel_keys(self, rel_input: DataFrame, names: tuple[str, str]) -> DataFrame:
        # the relation branch never purges (``_assign``, not ``assign_text``)
        b = self._relation_blocker
        if isinstance(b, TokenBlocker):
            return b._tok_keys(rel_input)
        return _branch_keys(b._assign, rel_input, names)

    def assign(
        self,
        left: EntityFrame,
        right: EntityFrame,
        left_rel: DataFrame | None = None,
        right_rel: DataFrame | None = None,
    ) -> BlockManager:
        assert left_rel is not None and right_rel is not None
        names = (left.name, right.name)
        attrs = tag_sides(left.attrs, right.attrs)
        own = EntityFrame(attrs, "").concat_values()  # (_s, id, text)
        rel = self._rel_input(attrs, tag_sides(left_rel, right_rel), own)
        branches = []
        if self.use_unique_name:
            unique = _unique_pairs(attrs).selectExpr(
                "block_key", "stack(2, 0, left_id, 1, right_id) AS (_s, id)"
            )
            covered = unique.select("_s", "id")
            own, rel = (_drop_covered(d, covered, ["_s", "id"]) for d in (own, rel))
            branches.append(unique)
        branches.append(self._attr_keys(own, names))
        branches.append(self._rel_keys(rel, names))
        return BlockManager.combine_branches(branches, *names)


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
