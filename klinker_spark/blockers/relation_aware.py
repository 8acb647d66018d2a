"""Relation-aware blocking — enrich each entity's text with its graph
neighbors' attribute values before blocking.

Reference: ``/root/reference/src/klinker/blockers/relation_aware.py``
(count_entities ``:65-73`` = A3, importance scores ``:76-103`` = A4/A5,
top-n filter ``:106-153`` = W1, ``concat_neighbor_attributes``
``:156-247`` = E3 with the neighbor join J3, blocker classes
``:250-631`` = E4).

Every relational blocker, here and in :mod:`.composite` /
:mod:`.hybrid`, is one flow (:class:`_RelationalFlow`): one lazy plan
over side-tagged frames ``(_s, id, …)``, ``_s`` = 0 left and 1 right
(:func:`~..data.frames.tag_sides`), of own text → neighbour text →
optional unique-name pass (its covered ids leave both texts) → one
blocker per branch → combine.  The constructors fix what differs:
``SimpleRelational*`` has one branch over own + neighbour text;
``Relational*`` an attribute branch on own text and a relation branch
on neighbour text only; ``Composite*`` adds the unique pass.

Plan shape: inverse-edge union (narrow) → optional broadcast-joined
importance filter (one row per relation/property) → neighbour
equi-join on ``(_s, tail = id)``, the scale-critical edge×text join →
re-concat per ``(_s, head)`` → blocking, each step once for both
sides.  Several branches meet in one
:meth:`~..data.blocks.BlockManager.combine_branches` exchange; no job
runs before the caller's action except the ``top_n_*`` entity count.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..data.blocks import BlockManager
from ..data.frames import EntityFrame, concat_frames, reverse_rel, side_keys, side_of, tag_sides
from .base import Blocker, SchemaAgnosticBlocker
from .token import TokenBlocker
from .unique_name import _unique_pairs

__all__ = [
    "count_entities",
    "relation_importance",
    "name_importance",
    "graph_statistics",
    "filter_importance",
    "concat_neighbor_attributes",
    "SimpleRelationalBlocker",
    "SimpleRelationalTokenBlocker",
    "RelationalBlocker",
    "RelationalTokenBlocker",
    "SimpleRelationalMinHashLSHBlocker",
    "RelationalMinHashLSHBlocker",
]


def count_entities(attrs: DataFrame, rels: DataFrame) -> int:
    """Distinct entities over union(attr ids, rel heads, rel tails)
    (A3, ``relation_aware.py:65-73``).  At 100 TB scale swap ``count``
    for ``approx_count_distinct`` — importance only needs magnitude.
    """
    return (
        attrs.select(F.col("id").alias("e"))
        .unionByName(rels.select(F.col("head").alias("e")))
        .unionByName(rels.select(F.col("tail").alias("e")))
        .distinct()
        .count()
    )


def _entity_count(attrs: DataFrame, rels: DataFrame) -> "int | Column":
    """:func:`count_entities`; for side-tagged frames a per-side
    literal, ``CASE _s WHEN 0 THEN n0 WHEN 1 THEN n1 END``, from one
    job for both sides."""
    if not side_keys(rels):
        return count_entities(attrs, rels)
    ids = (
        attrs.select("_s", F.col("id").alias("e"))
        .unionByName(rels.select("_s", F.col("head").alias("e")))
        .unionByName(rels.select("_s", F.col("tail").alias("e")))
    )
    n = F.lit(None)
    for row in ids.distinct().groupBy("_s").count().collect():
        n = F.when(F.col("_s") == row["_s"], F.lit(row["count"])).otherwise(n)
    return n


def _harmonic(support, discriminability):
    return 2 * (support * discriminability) / (support + discriminability)


def relation_importance(rels: DataFrame, num_entities: "int | Column") -> DataFrame:
    """Per-relation importance (A4, ``relation_aware.py:85-92``):
    support = count(rel)/n², discriminability = count(tail)/count(rel)
    (non-null count, *not* distinct — pandas named-agg semantics),
    importance = harmonic mean.  Output: ``(rel, importance)``, per
    side for side-tagged ``rels`` (``num_entities`` then a per-side
    column, see :func:`_entity_count`).
    """
    by = side_keys(rels)
    counted = rels.groupBy(*by, "rel").agg(
        F.count("rel").alias("rel_count"), F.count("tail").alias("tail_count")
    )
    support = F.col("rel_count") / (num_entities**2)
    disc = F.col("tail_count") / F.col("rel_count")
    return counted.select(*by, "rel", _harmonic(support, disc).alias("importance"))


def name_importance(attrs: DataFrame, num_entities: "int | Column") -> DataFrame:
    """Per-property importance (A5, ``relation_aware.py:95-103``):
    support = count(id)/n, discriminability = count(value)/count(prop).
    Output: ``(prop, importance)``, per side for side-tagged ``attrs``.
    """
    by = side_keys(attrs)
    counted = attrs.groupBy(*by, "prop").agg(
        F.count("id").alias("head_count"),
        F.count("prop").alias("rel_count"),
        F.count("value").alias("tail_count"),
    )
    support = F.col("head_count") / num_entities
    disc = F.col("tail_count") / F.col("rel_count")
    return counted.select(*by, "prop", _harmonic(support, disc).alias("importance"))


def graph_statistics(rels: DataFrame, num_entities: int | None = None) -> DataFrame:
    """Per-relation stats on DISTINCT instance pairs (A11,
    ``/root/reference/src/klinker/graph_statistics.py:11-58`` — the
    genuinely-distinct variant, vs :func:`relation_importance`'s
    non-null-count pandas semantics): support = n_pairs/n²,
    discriminability = n_objects/n_pairs, importance = harmonic mean.

    ``num_entities=None`` folds the distinct-entity count into the plan
    as a cross-joined single-row aggregate (one broadcast row) instead
    of a separate driver action — the whole statistic is then one job.

    Output: ``(rel, n_pairs, n_subjects, n_objects, importance)``.
    """
    per = rels.groupBy("rel").agg(
        F.countDistinct(F.struct("head", "tail")).alias("n_pairs"),
        F.countDistinct("head").alias("n_subjects"),
        F.countDistinct("tail").alias("n_objects"),
    )
    if num_entities is None:
        n_df = (
            rels.select(F.col("head").alias("e"))
            .union(rels.select("tail"))
            .distinct()
            .agg(F.count("*").alias("_n"))
        )
        per = per.crossJoin(F.broadcast(n_df))
        n_sq = F.col("_n").cast("double") * F.col("_n").cast("double")
    else:
        n_sq = F.lit(float(num_entities) ** 2)
    support = F.col("n_pairs") / n_sq
    disc = F.col("n_objects") / F.col("n_pairs")
    return per.select(
        "rel", "n_pairs", "n_subjects", "n_objects", _harmonic(support, disc).alias("importance")
    )


def filter_importance(
    triples: DataFrame, importance: DataFrame, top_n: int, key_col: str, group_col: str
) -> DataFrame:
    """Keep each group's triples whose key is among the group's top-n
    most important keys (W1, ``relation_aware.py:106-153``).

    ``dense_rank`` over the per-group *distinct* key scores mirrors the
    reference's ``drop_duplicates().nlargest(top_n)`` (ties at the
    boundary keep all tied keys — deterministic, vs pandas' arbitrary
    keep-first).  The importance table is one row per key: Catalyst
    broadcast-joins it, so the only shuffle is the window's partition
    by group.  Side-tagged triples rank within ``(_s, group)``.
    """
    by = side_keys(triples)
    joined = triples.join(F.broadcast(importance), [*by, key_col], "left")
    w = Window.partitionBy(*by, group_col).orderBy(F.col("importance").desc())
    return (
        joined.withColumn("_rank", F.dense_rank().over(w))
        .where(F.col("_rank") <= top_n)
        .drop("_rank", "importance")
    )


def concat_neighbor_attributes(
    frame: EntityFrame,
    rels: DataFrame,
    include_own_attributes: bool = True,
    top_n_a: int | None = None,
    top_n_r: int | None = None,
    own_text: DataFrame | None = None,
) -> DataFrame:
    """Per-entity concat of its *neighbors'* attribute text → ``(id, text)``
    (E3, ``relation_aware.py:156-247``).

    ``own_text``: ``frame.concat_values()`` when the caller already
    holds it; ignored under ``top_n_a``, whose property filter changes
    the own text.  Side-tagged inputs (``_s`` on ``frame.attrs``,
    ``rels`` and ``own_text``, see :func:`~..data.frames.tag_sides`)
    give ``(_s, id, text)``: every join, aggregate and importance
    window also keys on ``_s``, so both sides run as one plan.

    Steps: add inverse edges (P7+U1) → optional property/relation
    importance filters (A4/A5 + W1) → per-entity attr concat (P3) →
    edge ⨝ neighbor-text on ``tail = id`` (J3, inner: the reference's
    left-join + dropna) → optionally union own text as
    ``dummy_relation`` pseudo-triples (P8) → re-concat per head (P3).
    """
    attrs = frame.attrs
    by = side_keys(rels)
    with_inv = concat_frames([rels, reverse_rel(rels)])

    if top_n_a or top_n_r:
        num_entities = _entity_count(attrs, rels)
    if top_n_a:
        attrs = filter_importance(
            attrs, name_importance(attrs, num_entities), top_n_a, "prop", "id"
        )
    if top_n_r:
        with_inv = filter_importance(
            with_inv, relation_importance(rels, num_entities), top_n_r, "rel", "head"
        )

    if own_text is None or top_n_a:
        own_text = frame.with_attrs(attrs).concat_values()  # ([_s,] id, text)

    neighbor_triples = with_inv.join(
        own_text.withColumnRenamed("id", "tail"), [*by, "tail"], "inner"
    ).select(*by, F.col("head").alias("id"), F.col("rel").alias("prop"), F.col("text").alias("value"))
    # Own text enters as rows beside the joined neighbour text, so the
    # edge join reads real edges only and the re-concat aggregate reads
    # the own-text aggregate's output directly.
    if include_own_attributes:
        neighbor_triples = neighbor_triples.unionByName(
            own_text.select(
                *by, "id", F.lit("dummy_relation").alias("prop"), F.col("text").alias("value")
            )
        )

    # Re-tokenizing consumers make this set-semantics safe; split/flatten
    # dedups tokens across neighbor blobs like the reference's final
    # concat_values over the pseudo-triple frame.
    return EntityFrame(neighbor_triples, frame.name).concat_values()


def _drop_covered(frame: DataFrame, covered: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of ``frame`` whose ``keys`` are not in ``covered``: a left
    join keeping the unmatched rows, which Catalyst, unlike a
    ``left_anti`` join, leaves above ``frame``'s aggregate, so exchange
    reuse computes the filtered and unfiltered aggregate once."""
    hit = covered.select(*keys, F.lit(True).alias("_covered"))
    return (
        frame.join(hit, keys, "left")
        .where(F.col("_covered").isNull())
        .drop("_covered")
    )


def _branch_keys(
    assign: Callable[[DataFrame, DataFrame, str, str], BlockManager],
    tagged: DataFrame,
    names: tuple[str, str],
) -> DataFrame:
    """A per-side branch ``assign(left, right, left_name, right_name)``
    fed by the two sides of a side-tagged frame; its key frames
    side-tagged again, ``(_s, block_key, id)``."""
    return assign(side_of(tagged, 0), side_of(tagged, 1), *names).side_tagged_keys()


def _blocker_keys(
    blocker: SchemaAgnosticBlocker, text: DataFrame, names: tuple[str, str], purge: bool
) -> DataFrame:
    """One branch's side-tagged keys from side-tagged ``(_s, id,
    text)``.  A token blocker tokenizes both sides at once unless it
    must purge; any other blocker runs per side, through
    ``assign_text`` (which purges when the blocker asks to) when
    ``purge``, else through ``_assign``."""
    if isinstance(blocker, TokenBlocker) and not (purge and blocker._purge):
        return blocker._tok_keys(text)
    return _branch_keys(blocker.assign_text if purge else blocker._assign, text, names)


class _RelationalFlow(Blocker):
    """The one relational blocking flow (see the module docstring).

    ``attribute_blocker`` (None: no attribute branch) blocks the own
    text and may purge; ``relation_blocker`` blocks the relation text
    and never purges, as in the reference.  Unique-covered entities
    are dropped after the concatenation: both are per id, so this
    equals dropping their attributes before it.  Hooks: ``_rel_input``
    and ``_rel_keys``, the relation branch's tagged input and keys."""

    def __init__(
        self,
        attribute_blocker: SchemaAgnosticBlocker | None,
        relation_blocker: SchemaAgnosticBlocker | None,
        top_n_a: int | None = None,
        top_n_r: int | None = None,
        use_unique_name: bool = False,
        include_own_attributes: bool = True,
    ):
        self._attribute_blocker = attribute_blocker
        self._relation_blocker = relation_blocker
        self.top_n_a = top_n_a
        self.top_n_r = top_n_r
        self.use_unique_name = use_unique_name
        self.include_own_attributes = include_own_attributes

    def _rel_input(self, attrs: DataFrame, rels: DataFrame, own_text: DataFrame) -> DataFrame:
        """Side-tagged input of the relation branch: neighbour text."""
        return concat_neighbor_attributes(
            EntityFrame(attrs, ""),
            rels,
            self.include_own_attributes,
            self.top_n_a,
            self.top_n_r,
            own_text=own_text,
        )

    def _rel_keys(self, rel_input: DataFrame, names: tuple[str, str]) -> DataFrame:
        return _blocker_keys(self._relation_blocker, rel_input, names, purge=False)

    def assign(
        self,
        left: EntityFrame,
        right: EntityFrame,
        left_rel: DataFrame | None = None,
        right_rel: DataFrame | None = None,
    ) -> BlockManager:
        if left_rel is None or right_rel is None:
            raise ValueError("a relational blocker needs left_rel and right_rel")
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
        if self._attribute_blocker is not None:
            branches.append(_blocker_keys(self._attribute_blocker, own, names, purge=True))
        branches.append(self._rel_keys(rel, names))
        if len(branches) > 1:
            return BlockManager.combine_branches(branches, *names)
        keys = branches[0]
        return BlockManager.from_key_assignments(
            side_of(keys, 0), side_of(keys, 1), *names, assume_distinct=True
        )


class SimpleRelationalBlocker(_RelationalFlow):
    """One blocker over own+neighbor text (``relation_aware.py:296-328``)."""

    def __init__(
        self,
        blocker: SchemaAgnosticBlocker,
        top_n_a: int | None = None,
        top_n_r: int | None = None,
    ):
        super().__init__(None, blocker, top_n_a, top_n_r)


class SimpleRelationalTokenBlocker(SimpleRelationalBlocker):
    """The paper's headline method (``relation_aware.py:331-360``)."""

    def __init__(
        self,
        min_token_length: int = 3,
        top_n_a: int | None = None,
        top_n_r: int | None = None,
    ):
        super().__init__(TokenBlocker(min_token_length=min_token_length), top_n_a, top_n_r)


class RelationalBlocker(_RelationalFlow):
    """Separate attr/rel blockers, combined (``relation_aware.py:391-437``).

    Attribute blocks come from own values only; relation blocks from
    neighbor values only (``include_own_attributes=False``); results are
    merged per block key (J5).
    """

    def __init__(
        self,
        attribute_blocker: SchemaAgnosticBlocker,
        relation_blocker: SchemaAgnosticBlocker,
        top_n_a: int | None = None,
        top_n_r: int | None = None,
    ):
        super().__init__(
            attribute_blocker, relation_blocker, top_n_a, top_n_r, include_own_attributes=False
        )


class RelationalTokenBlocker(RelationalBlocker):
    """Token/token variant (``relation_aware.py:506-538``)."""

    def __init__(
        self,
        attr_min_token_length: int = 3,
        rel_min_token_length: int = 3,
        top_n_a: int | None = None,
        top_n_r: int | None = None,
    ):
        super().__init__(
            TokenBlocker(min_token_length=attr_min_token_length),
            TokenBlocker(min_token_length=rel_min_token_length),
            top_n_a,
            top_n_r,
        )


class SimpleRelationalMinHashLSHBlocker(SimpleRelationalBlocker):
    """LSH on own+neighbor concatenated text
    (``relation_aware.py:359-388``); one MinHash banding pass over the
    enriched text, same reference defaults (threshold 0.5, 128 perms).
    """

    def __init__(
        self,
        threshold: float = 0.5,
        num_perm: int = 128,
        weights: tuple[float, float] = (0.5, 0.5),
        min_token_length: int = 3,
        top_n_a: int | None = None,
        top_n_r: int | None = None,
    ):
        from .lsh import MinHashLSHBlocker

        super().__init__(
            MinHashLSHBlocker(
                threshold=threshold,
                num_perm=num_perm,
                weights=weights,
                min_token_length=min_token_length,
            ),
            top_n_a,
            top_n_r,
        )


class RelationalMinHashLSHBlocker(RelationalBlocker):
    """Separate attr/rel LSH passes, combined
    (``relation_aware.py:432-470``; reference defaults rel_threshold
    0.7 — neighbor text must be *more* similar than own text to
    block together).
    """

    def __init__(
        self,
        attr_threshold: float = 0.5,
        attr_num_perm: int = 128,
        attr_weights: tuple[float, float] = (0.5, 0.5),
        rel_threshold: float = 0.7,
        rel_num_perm: int = 128,
        rel_weights: tuple[float, float] = (0.5, 0.5),
        min_token_length: int = 3,
        top_n_a: int | None = None,
        top_n_r: int | None = None,
    ):
        from .lsh import MinHashLSHBlocker

        super().__init__(
            MinHashLSHBlocker(
                threshold=attr_threshold,
                num_perm=attr_num_perm,
                weights=attr_weights,
                min_token_length=min_token_length,
            ),
            MinHashLSHBlocker(
                threshold=rel_threshold,
                num_perm=rel_num_perm,
                weights=rel_weights,
                min_token_length=min_token_length,
            ),
            top_n_a,
            top_n_r,
        )
