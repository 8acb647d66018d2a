"""Entity frames — the engine's data model.

Replaces the reference's ``KlinkerFrame`` hierarchy
(``/root/reference/src/klinker/data/enhanced_df.py:18-310``: wide
``KlinkerPandasFrame``, EAV ``KlinkerTriplePandasFrame``, and their Dask
twins ``:313-568``) with ONE canonical narrow layout plus a thin
metadata dataclass.  Every Spark DataFrame is already partitioned and
lazy, so the pandas/Dask duality — roughly 40% of the reference's data
code — collapses to nothing here.

Canonical schemas (SURVEY.md §1.3):

- ``attrs(id string, prop string, value string)`` — long/EAV attribute
  form.  Wide tables are melted into it; triple tables map onto it
  directly (``head``→id, ``rel``→prop, ``tail``→value).
- ``rels(head string, rel string, tail string)`` — KG edge list.

``EntityFrame`` carries the two pieces of metadata the reference
propagates through every op (``table_name``, ``id_col`` —
``enhanced_df.py:24-40``); in Spark they live beside the DataFrame, not
inside it, so no ``_metadata`` plumbing is needed.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "EntityFrame",
    "melt",
    "clean_rdf_datatype",
    "reverse_rel",
    "concat_frames",
    "tag_sides",
    "side_keys",
    "side_of",
]


def melt(
    df: DataFrame,
    id_col: str,
    value_cols: Sequence[str] | None = None,
    var_name: str = "prop",
    value_name: str = "value",
) -> DataFrame:
    """Wide → long (EAV) via the built-in ``stack`` generator.

    Equivalent of treating each wide row as one triple per non-null
    attribute (reference "triplify": ``tests/conftest.py:48-72``).
    ``stack`` is a Catalyst Generate node — no Python UDF, stays inside
    whole-stage codegen, and scales linearly with rows × columns.
    """
    value_cols = [c for c in df.columns if c != id_col] if value_cols is None else list(value_cols)
    pairs = ", ".join(f"'{c}', cast(`{c}` as string)" for c in value_cols)
    stacked = df.select(
        F.col(id_col).cast("string").alias("id"),
        F.expr(f"stack({len(value_cols)}, {pairs}) as ({var_name}, {value_name})"),
    )
    return stacked.where(F.col(value_name).isNotNull())


def clean_rdf_datatype(col: Column | str) -> Column:
    """Strip the RDF datatype suffix ``value^^xsd:type``.

    Reference: ``src/klinker/data/ea_dataset.py:88-91`` (S2).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, r"\^\^").getItem(0)


def reverse_rel(rels: DataFrame, prefix: str = "_inv_") -> DataFrame:
    """Swap head/tail and prefix the relation name (inverse edges).

    Reference: ``src/klinker/blockers/relation_aware.py:32-50`` (P7).
    Pure projection — no shuffle; a side tag carries through.
    """
    return rels.select(
        *side_keys(rels),
        F.col("tail").alias("head"),
        F.concat(F.lit(prefix), F.col("rel")).alias("rel"),
        F.col("head").alias("tail"),
    )


def concat_frames(frames: Sequence[DataFrame]) -> DataFrame:
    """Row-union of same-schema frames (U1, ``src/klinker/utils.py:46-59``)."""
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def tag_sides(left: DataFrame, right: DataFrame) -> DataFrame:
    """Stack two same-schema frames as one side-tagged frame
    ``(_s, ...)``, ``_s`` = 0 for ``left`` and 1 for ``right``: the
    composite flow runs each per-entity step once for both sides."""
    return left.select(F.lit(0).alias("_s"), "*").unionByName(
        right.select(F.lit(1).alias("_s"), "*")
    )


def side_keys(df: DataFrame) -> list[str]:
    """``["_s"]`` for a side-tagged frame, else ``[]``: the extra
    leading key of every per-entity grouping, join and window."""
    return ["_s"] if "_s" in df.columns else []


def side_of(df: DataFrame, s: int) -> DataFrame:
    """One side of a side-tagged frame, untagged."""
    return df.where(F.col("_s") == s).drop("_s")


@dataclass(frozen=True)
class EntityFrame:
    """A named entity-attribute table in canonical long form.

    ``attrs`` has schema ``(id string, prop string, value string)``.
    ``name`` is the dataset name (becomes the block column name, as in
    ``enhanced_df.py:24-31``).
    """

    attrs: DataFrame
    name: str

    @classmethod
    def from_wide(
        cls, df: DataFrame, name: str, id_col: str = "id", value_cols: Sequence[str] | None = None
    ) -> "EntityFrame":
        """From one-row-per-entity wide table (``KlinkerPandasFrame``)."""
        return cls(attrs=melt(df, id_col, value_cols), name=name)

    @classmethod
    def from_triples(
        cls,
        df: DataFrame,
        name: str,
        head_col: str = "head",
        rel_col: str = "rel",
        tail_col: str = "tail",
        clean: bool = False,
    ) -> "EntityFrame":
        """From attribute triples (``KlinkerTriplePandasFrame``, id_col=head)."""
        tail: Column = F.col(tail_col).cast("string")
        if clean:
            tail = clean_rdf_datatype(tail)
        attrs = df.select(
            F.col(head_col).cast("string").alias("id"),
            F.col(rel_col).cast("string").alias("prop"),
            tail.alias("value"),
        ).where(F.col(tail_col).isNotNull())
        return cls(attrs=attrs, name=name)

    def ids(self) -> DataFrame:
        """Distinct entity ids (single column ``id``)."""
        return self.attrs.select("id").distinct()

    def with_attrs(self, attrs: DataFrame) -> "EntityFrame":
        return replace(self, attrs=attrs)

    def concat_values(self, remove_duplicates: bool = True, sep: str = " ") -> DataFrame:
        """Per-entity concat of all attribute values → ``(id, text)``.

        Reference semantics (P2/P3): ``enhanced_df.py:180-211`` (wide,
        fillna("") + space-join + strip) and ``:269-310`` (triple,
        groupby-head join with optional first-seen-order dedup).

        Spark delta (SURVEY §4 item 1): ``collect_list`` order is
        nondeterministic under shuffles, so the engine defines **sorted
        set semantics** — values are deduplicated (when
        ``remove_duplicates``) and sorted before joining.  Downstream
        consumers re-tokenize the blob, so blocking results are
        unaffected; sorting only pins determinism for golden tests and
        the DuckDB oracle.

        Side-tagged attrs (the composite flow's ``_s`` column: 0 left,
        1 right) concat per ``(_s, id)`` → ``(_s, id, text)``.

        Plan shape: one hash-aggregate shuffle on ``id``; map-side
        partial ``collect_set`` keeps shuffle volume at O(distinct
        values), and all array ops are codegen'd builtins.
        """
        collected = (
            F.collect_set(F.col("value")) if remove_duplicates else F.collect_list(F.col("value"))
        )
        keys = [*side_keys(self.attrs), "id"]
        return self.attrs.where(F.col("value").isNotNull()).groupBy(*keys).agg(
            F.trim(F.array_join(F.array_sort(collected), sep)).alias("text")
        )
