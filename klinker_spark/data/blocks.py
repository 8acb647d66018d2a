"""Block manager — the engine's central output type.

Re-expresses ``KlinkerBlockManager`` (``/root/reference/src/klinker/data/
blocks.py:26-463``) as a thin wrapper over a DataFrame with schema

    blocks(block_key string, <left_name> array<string>, <right_name> array<string>)

— exactly the ``list<string>`` parquet layout the reference itself
writes (``blocks.py:327-333``), handled natively by Spark's
``ArrayType`` with no arrow-schema hacks.

Scale note (SURVEY §7 risk register): an array cell holding millions of
ids breaks the array-cell model, so at scale the **exploded
``pairs(left_id, right_id)`` view is primary** and arrays are a
presentation/compat format; ``purge()`` (the reference's own answer to
giant blocks, ``blocks.py:172-244``) is implemented here as a pure
window-function pipeline and should run before any array materialization
on skewed key distributions.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .frames import tag_sides

__all__ = ["BlockManager", "CompositeBlockManager"]


@dataclass(frozen=True)
class BlockManager:
    """Blocks table + the two dataset names its array columns carry.

    >>> bm.df.show()  # doctest: +SKIP
    +---------+----------+--------+
    |block_key|         A|       B|
    +---------+----------+--------+
    |   block1|  [a1, a3]|[b3, b4]|

    Dual representation: when built via :meth:`from_key_assignments`
    the manager ALSO carries the per-side ``(block_key, id)`` key
    frames, and every pairs-shaped consumer joins those directly —
    the array-cell ``df`` (the reference-compatible presentation
    format) is only assembled when actually read.  At 100 TB a hot
    block never becomes a million-element array cell unless the caller
    explicitly asks for the array layout.
    """

    _df: DataFrame | None
    left_name: str = "A"
    right_name: str = "B"
    left_keys: DataFrame | None = None  # (block_key, id), distinct
    right_keys: DataFrame | None = None
    # True when every key in the key frames is known to appear on BOTH
    # sides (i.e. the frames already equal the block table's exploded
    # form).  Raw single-blocker assignments are NOT effective: a value
    # seen only on one side is an assignment but never a block.
    keys_effective: bool = False

    @property
    def df(self) -> DataFrame:
        """Array-cell block layout, assembled on demand from the key
        frames when not given (A1: per side
        ``groupBy(block_key).agg(collect_set(id))`` — the built-in
        equivalent of ``groupby(key).apply(lambda x: list(set(...)))``,
        ``standard.py:36-56`` — then the J1 inner key join,
        ``standard.py:87``).  Arrays sorted for deterministic goldens
        (set semantics, SURVEY §4)."""
        if self._df is not None:
            return self._df
        lb = self.left_keys.groupBy("block_key").agg(
            F.array_sort(F.collect_set(F.col("id"))).alias(self.left_name)
        )
        rb = self.right_keys.groupBy("block_key").agg(
            F.array_sort(F.collect_set(F.col("id"))).alias(self.right_name)
        )
        return lb.join(rb, "block_key", "inner")

    # ---------------------------------------------------------------- build
    @classmethod
    def from_key_assignments(
        cls,
        left: DataFrame,
        right: DataFrame,
        left_name: str = "A",
        right_name: str = "B",
        assume_distinct: bool = False,
        keys_effective: bool = False,
    ) -> "BlockManager":
        """Build from per-side ``(block_key, id)`` assignments — the
        at-scale constructor: nothing aggregates until a consumer picks
        a layout.  ``assume_distinct`` skips the dedup when the caller
        already guarantees distinct (key, id) rows (e.g. an upstream
        ``collect_set`` or ``distinct()``); ``keys_effective`` asserts
        every key appears on both sides (see the field doc)."""
        if not assume_distinct:
            left = left.dropDuplicates(["block_key", "id"])
            right = right.dropDuplicates(["block_key", "id"])
        return cls(
            None,
            left_name,
            right_name,
            left_keys=left,
            right_keys=right,
            keys_effective=keys_effective,
        )

    @classmethod
    def from_dict(
        cls,
        spark: SparkSession,
        d: dict,
        left_name: str = "A",
        right_name: str = "B",
    ) -> "BlockManager":
        """From ``{block_key: ([left ids], [right ids])}`` (reference
        ``from_dict``, ``blocks.py:383-420``)."""
        rows = [
            (str(k), sorted(str(x) for x in v[0]), sorted(str(x) for x in v[1]))
            for k, v in d.items()
        ]
        schema = (
            f"block_key string, `{left_name}` array<string>, `{right_name}` array<string>"
        )
        from ..session import local_df

        return cls(local_df(spark, rows, schema), left_name, right_name)

    # ---------------------------------------------------------------- views
    def block_pairs(self) -> DataFrame:
        """Per-block candidate pairs ``(block_key, left_id, right_id)``.

        Key-frame path: a plain equi-join of the two assignment tables —
        no array cells ever built.  Array path (df given directly): the
        double-``explode`` UDTF shape (``blocks.py:131-139``; the
        reference's own ``spark_eval.py:31-35``).

        Both are EXPANDING — Σ|L_k|·|R_k| output rows from linear
        inputs — and Spark sizes scan splits and AQE shuffle readers by
        INPUT bytes, so on a low-cardinality key (25 nations) or a
        small block file the whole quadratic output lands in ONE task
        (measured sf1: 10.4 s single-task vs 1.0 s at 32).  An explicit
        round-robin repartition of the left side (the block table on
        the array path) pins the expansion's parallelism at the
        session's defaultParallelism; round-robin cannot be collapsed
        into the dedup's ENSURE_REQUIREMENTS exchange the way a hash
        repartition is.  Cost: one linear pass over the left input,
        amortized by the super-linear output.  A combined manager
        (:meth:`combine_branches`) gets it too: its key frames are
        already hash-partitioned on ``block_key``, but one hot key (a
        branch of 25 nation names) still puts its whole expansion in
        one task of that partitioning.
        """
        if self.left_keys is not None:
            lk = self.left_keys.repartition(
                self.left_keys.sparkSession.sparkContext.defaultParallelism
            )
            return (
                lk.withColumnRenamed("id", "left_id")
                .join(self.right_keys.withColumnRenamed("id", "right_id"), "block_key")
            )
        df = self.df.repartition(self.df.sparkSession.sparkContext.defaultParallelism)
        return df.select(
            "block_key",
            F.explode(df[self.left_name]).alias("left_id"),
            F.col(self.right_name),
        ).select("block_key", "left_id", F.explode(F.col(self.right_name)).alias("right_id"))

    def pairs(self, distinct: bool = True) -> DataFrame:
        """Blocks → candidate pairs ``(left_id, right_id)`` (E10).

        ``distinct=False`` keeps duplicate pairs occurring in several
        blocks, matching ``Evaluation``'s comparison counting; ``True``
        matches ``spark_eval.py:35`` — the two reference implementations
        disagree, so it's a flag (SURVEY §4 delta 2).
        """
        out = self.block_pairs().select("left_id", "right_id")
        return out.distinct() if distinct else out

    def find_blocks(self, entity_id: str, side: str | None = None) -> DataFrame:
        """Blocks containing an entity (E11, ``blocks.py:86-108``)."""
        side_cols = [side] if side else [self.left_name, self.right_name]
        cond = None
        for c in side_cols:
            clause = F.array_contains(F.col(c), entity_id)
            cond = clause if cond is None else (cond | clause)
        return self.df.where(cond)

    # ---------------------------------------------------------------- stats
    def with_sizes(self) -> DataFrame:
        """Blocks + per-block sizes and comparison counts (A7).

        Key-frame path: two count aggregates + join — never builds the
        arrays just to ``size()`` them."""
        if self.left_keys is not None:
            ls = self.left_keys.groupBy("block_key").agg(F.count("*").alias("left_size"))
            rs = self.right_keys.groupBy("block_key").agg(F.count("*").alias("right_size"))
            sized = ls.join(rs, "block_key")
        else:
            sized = self.df.select(
                "block_key",
                F.size(F.col(self.left_name)).alias("left_size"),
                F.size(F.col(self.right_name)).alias("right_size"),
            )
        return sized.select(
            "*",
            (F.col("left_size") + F.col("right_size")).alias("assignments"),
            (F.col("left_size") * F.col("right_size")).alias("comparisons"),
        )

    def statistics(self) -> DataFrame:
        """One-row summary: block count, assignments, comparisons, mean
        sizes (reference ``blocks.py:141-170``, A7/A8)."""
        return self.with_sizes().agg(
            F.count("*").alias("n_blocks"),
            F.sum("assignments").alias("total_assignments"),
            F.sum("comparisons").alias("total_comparisons"),
            F.avg("left_size").alias("mean_left_size"),
            F.avg("right_size").alias("mean_right_size"),
            F.max("comparisons").alias("max_block_comparisons"),
        )

    def effective_keys(self) -> tuple[DataFrame, DataFrame]:
        """Key frames restricted to keys that form actual BLOCKS — keys
        present on both sides.  A block manager's semantics is the inner
        key join; single-consumer paths (``block_pairs``, ``with_sizes``)
        realize that filter implicitly through their own inner join, but
        set-level operations (``combine``, ``covered_ids``) must apply it
        explicitly or one-sided assignments leak in as phantom members.
        """
        lk, rk = self.left_keys, self.right_keys
        if self.keys_effective:
            return lk, rk
        return (
            lk.join(rk.select("block_key").distinct(), "block_key", "left_semi"),
            rk.join(lk.select("block_key").distinct(), "block_key", "left_semi"),
        )

    def covered_ids(self, side: str) -> DataFrame:
        """Ids appearing in any block on the given side — the anti-join
        build side of composite flows (P10).  Not deduplicated: an id in
        several blocks repeats, which no semi/anti-join minds.  Key-frame
        path reads the (block-filtered) assignment table; array path
        explodes the cells."""
        if side not in (self.left_name, self.right_name):
            raise ValueError(
                f"unknown side {side!r}: this manager's sides are "
                f"({self.left_name!r}, {self.right_name!r})"
            )
        if self.left_keys is not None:
            lk, rk = self.effective_keys()
            kf = lk if side == self.left_name else rk
            return kf.select("id")
        return self.df.select(F.explode(F.col(side)).alias("id"))

    # ---------------------------------------------------------------- combine
    @classmethod
    def combine_all(cls, managers: list["BlockManager"]) -> "BlockManager":
        """N-way key-level combine, ONE exchange total (lazy): each
        manager's key frames, side-tagged (:meth:`side_tagged_keys`),
        are one branch of :meth:`combine_branches`.

        Semantics == chained array combines: a key's members are the
        union of its members from every branch where it is two-sided,
        and keys two-sided in no branch vanish.  Array-layout inputs
        (``from_dict`` / ``read_parquet`` managers without key frames)
        fall back to the chained array-path combine below."""
        names = {(m.left_name, m.right_name) for m in managers}
        if len(names) > 1:
            raise ValueError(
                "combine_all: managers disagree on (left_name, right_name): "
                f"{sorted(names)} — sides are merged by name, rename the "
                "inputs to a common orientation first"
            )
        if any(m.left_keys is None for m in managers):
            return functools.reduce(lambda a, b: a._combine_arrays(b), managers)
        first = managers[0]
        return cls.combine_branches(
            [m.side_tagged_keys() for m in managers], first.left_name, first.right_name
        )

    def side_tagged_keys(self) -> DataFrame:
        """Both key frames as one side-tagged ``(block_key, id, _s)``
        frame (``_s`` 0 left, 1 right)."""
        return tag_sides(
            self.left_keys.select("block_key", "id"), self.right_keys.select("block_key", "id")
        )

    @classmethod
    def combine_branches(
        cls, branches: list[DataFrame], left_name: str, right_name: str
    ) -> "BlockManager":
        """Combine side-tagged ``(block_key, id, _s)`` assignment frames,
        one per branch (blocker), into one manager.

        Stacks the branches into a single tagged frame ``(block_key,
        id, _b=branch, _s=side)`` and hash-repartitions it on
        ``block_key`` ONCE.  The key frames and the array layout ride
        that partitioning with zero further exchanges: two-sidedness
        per (key, branch) is a window max (hash(key) satisfies the
        (key, branch) clustering), and the per-side dedup and the
        arrays are group-bys whose keys start with block_key.
        :meth:`block_pairs` still spreads the expansion with its
        round-robin repartition, as for any manager: one hot key would
        otherwise expand in one task.  Both sides read the same
        exchange, so exchange reuse computes the stacked frame once in
        the terminal action — nothing is cached and no job runs here.  A caller
        running several actions on the result caches its frames with
        :func:`klinker_spark.ckpt.persist` inside a
        :func:`klinker_spark.ckpt.scope`."""
        legs = [
            kf.select("block_key", "id", F.lit(b).alias("_b"), "_s")
            for b, kf in enumerate(branches)
        ]
        stacked = functools.reduce(lambda a, c: a.unionByName(c), legs).repartition(
            F.col("block_key")
        )
        w = Window.partitionBy("block_key", "_b")
        both = (
            stacked.withColumn(
                "_two",
                (F.max(1 - F.col("_s")).over(w) == 1) & (F.max("_s").over(w) == 1),
            )
            .where("_two")
        )

        def side(s: int) -> DataFrame:
            return (
                both.where(F.col("_s") == s)
                .groupBy("block_key", "id")
                .agg(F.lit(1).alias("_one"))
                .select("block_key", "id")
            )

        def members(s: int):
            return F.array_sort(F.collect_set(F.when(F.col("_s") == s, F.col("id"))))

        # the array layout in ONE pass over the stack (collect_set skips
        # the other side's nulls); assembling it from the two key frames
        # would plan the whole stacked subtree twice
        arrays = both.groupBy("block_key").agg(
            members(0).alias(left_name), members(1).alias(right_name)
        )
        return cls(
            arrays,
            left_name,
            right_name,
            side(0),
            side(1),
            keys_effective=True,
        )

    def combine(self, other: "BlockManager") -> "BlockManager":
        """Outer-join two block tables on key; union id-lists per side
        (J5, reference ``blocks.py:246-317``).

        ``full_outer`` join + ``array_union(coalesce(...))`` replaces the
        reference's 70-line cell-wise merge.  One shuffle on block_key.

        Key-frame fast path: when BOTH managers carry assignment tables
        the combine is a per-side ``union + dropDuplicates`` of the
        EFFECTIVE (block-filtered) frames — no array cell is ever built,
        and the result stays key-framed so terminal ``block_pairs``
        consumers skip array materialization entirely.  Equivalent to
        the array semantics: each input's block table is the inner key
        join of its assignments, so unioning the block-filtered
        assignments and inner-joining the unions reproduces exactly the
        full-outer array_union (a key blocked in either input keeps both
        of that input's sides; a key one-sided in both inputs is in
        neither block table and stays excluded).  The union is itself
        effective — every surviving key has both sides from whichever
        input blocked it.  Only a hand-built df-layout manager
        (``from_dict`` / ``read_parquet``) can hold an empty-array cell,
        and those take the array path below.  Both paths are lazy.
        """
        if self.left_keys is not None and other.left_keys is not None:
            return BlockManager.combine_all([self, other])
        return self._combine_arrays(other)

    def _combine_arrays(self, other: "BlockManager") -> "BlockManager":
        """Array-layout combine: full-outer join on block_key +
        per-side ``array_union`` (works for any manager — ``.df``
        assembles the arrays from key frames on demand)."""
        if (self.left_name, self.right_name) != (other.left_name, other.right_name):
            raise ValueError(
                "combine: managers disagree on (left_name, right_name): "
                f"{(self.left_name, self.right_name)} vs "
                f"{(other.left_name, other.right_name)}"
            )
        a, b = self.df, other.df
        l, r = self.left_name, self.right_name
        joined = a.alias("a").join(b.alias("b"), "block_key", "full_outer")
        empty = F.array().cast("array<string>")

        def merged(col: str):
            return F.array_sort(
                F.array_union(
                    F.coalesce(F.col(f"a.{col}"), empty), F.coalesce(F.col(f"b.{col}"), empty)
                )
            ).alias(col)

        return BlockManager(joined.select("block_key", merged(l), merged(r)), l, r)

    # ---------------------------------------------------------------- purge
    def purge(self, cc_round: int = 2) -> "BlockManager":
        """Drop oversized blocks via the cumulative-CC heuristic (W2).

        Reference ``_get_purge_threshold`` (``blocks.py:172-244``): order
        blocks by per-block comparison count; walk cumulative
        assignments/comparisons; the purge threshold is the first block
        cardinality at which the rounded CC (Σassign/Σcomp) stops
        changing; blocks with more comparisons than the threshold are
        dropped.

        Implemented over a **total** order ``(comparisons, block_key)``
        (the reference's pandas cumsum order is index-dependent; a total
        order makes the result deterministic, SURVEY §4 delta 3).

        Scale shape: the cumulative sums use the ``global_rank`` recipe
        (``ops/profile.py``) — range-repartition on the order, cumsum
        WITHIN each partition (parallel windows), then add per-partition
        offsets (a ≤ P-row aggregate, broadcast back).  The window input
        here is one row per BLOCK (≈ distinct tokens — 10⁸–10⁹ at corpus
        scale), so the old unpartitioned window would sort it in ONE
        task.  The cross-partition ``lag`` is reconstructed exactly: the
        previous row of a partition's first row is the previous
        partition's LAST row, whose cumulative cc is the offset ratio and
        whose cardinality is that partition's max (rows are sorted).
        """
        sized = self.with_sizes()
        order = [F.col("comparisons"), F.col("block_key")]
        tmp = (
            sized.repartitionByRange(*order)
            .sortWithinPartitions(*order)
            .withColumn("_pid", F.spark_partition_id())
        )
        w_loc = Window.partitionBy("_pid").orderBy(*order)
        w_cum = w_loc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tmp = tmp.withColumn("_la", F.sum("assignments").over(w_cum)).withColumn(
            "_lc", F.sum("comparisons").over(w_cum)
        )
        parts = tmp.groupBy("_pid").agg(
            F.sum("assignments").alias("_ta"),
            F.sum("comparisons").alias("_tc"),
            F.max("comparisons").alias("_last_card"),
        )
        w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
        offs = parts.select(
            "_pid",
            F.coalesce(F.sum("_ta").over(w_off), F.lit(0)).alias("_offa"),
            F.coalesce(F.sum("_tc").over(w_off), F.lit(0)).alias("_offc"),
            F.lag("_last_card").over(Window.orderBy("_pid")).alias("_prev_last"),
        )
        cum = (
            tmp.join(F.broadcast(offs), "_pid")
            .withColumn("cum_assign", F.col("_la") + F.col("_offa"))
            .withColumn("cum_comp", F.col("_lc") + F.col("_offc"))
            .withColumn("cc", F.round(F.col("cum_assign") / F.col("cum_comp"), cc_round))
            .withColumn(
                "prev_cc",
                F.coalesce(
                    F.lag("cc").over(w_loc),
                    F.when(
                        F.col("_offc") > 0,
                        F.round(F.col("_offa") / F.col("_offc"), cc_round),
                    ),
                ),
            )
            .withColumn(
                "prev_card",
                F.coalesce(F.lag("comparisons").over(w_loc), F.col("_prev_last")),
            )
        )
        thresh = (
            cum.where(
                (F.col("cc") == F.col("prev_cc")) & (F.col("comparisons") > F.col("prev_card"))
            )
            .agg(F.min("comparisons").alias("threshold"))
            .withColumn("threshold", F.coalesce(F.col("threshold"), F.lit(2**62)))
        )
        keep_keys = (
            sized.join(F.broadcast(thresh))
            .where(F.col("comparisons") <= F.col("threshold"))
            .select("block_key")
        )
        if self.left_keys is not None:
            return BlockManager(
                None,
                self.left_name,
                self.right_name,
                left_keys=self.left_keys.join(keep_keys, "block_key", "left_semi"),
                right_keys=self.right_keys.join(keep_keys, "block_key", "left_semi"),
                # keep_keys came from with_sizes' inner join, so every
                # kept key has survivors on both sides
                keys_effective=True,
            )
        kept = self.df.join(keep_keys, "block_key", "left_semi")
        return BlockManager(kept, self.left_name, self.right_name)

    # ---------------------------------------------------------------- io
    def to_parquet(self, path: str) -> None:
        """Write blocks (S3, ``blocks.py:319-343``) — ``ArrayType`` is
        native, no pyarrow schema pinning needed."""
        self.df.write.mode("overwrite").parquet(path)

    def to_bucketed_table(self, table: str, n_buckets: int = 64, distinct: bool = True) -> None:
        """Write the exploded pairs view as a Hive-bucketed table on
        ``(left_id, right_id)`` (the at-scale persistence format,
        SCALE.md): every later equi-join on the pair key — gold
        evaluation, blocking comparison, candidate intersection — reads
        the buckets co-located and skips its shuffle entirely (the plan
        shows SortMergeJoin with no Exchange).  Use when blocks are
        reused across experiment runs, the reference's cache motive
        (``composite.py:131``) taken to storage."""
        (
            self.pairs(distinct=distinct)
            .write.mode("overwrite")
            .bucketBy(n_buckets, "left_id", "right_id")
            .sortBy("left_id", "right_id")
            .format("parquet")
            .saveAsTable(table)
        )

    @classmethod
    def read_parquet(
        cls, spark: SparkSession, path: str, left_name: str | None = None, right_name: str | None = None
    ) -> "BlockManager | CompositeBlockManager":
        """Read blocks with the reference's layout sniffing (S4,
        ``blocks.py:345-381``):

        - a ``nn_blocks/`` subdirectory ⇒ the composite layout
          (``CompositeWithNNBasedKlinkerBlockManager.read_parquet``,
          ``blocks.py:613-632``) — ``blocks/`` and ``nn_blocks/`` are
          read recursively into a :class:`CompositeBlockManager`;
        - two array columns + ``block_key`` ⇒ the native array layout;
        - otherwise the NN-WIDE layout (``blocks.py:374-381``): one row
          per left entity, one SCALAR column per neighbor slot (dask
          writes the left id as the parquet index column).  Converted to
          block form keyed by the left id, null neighbor slots dropped
          (``NNBased…all_pairs`` skips None, ``blocks.py:494-505``).
        """
        if _dir_exists(spark, f"{path}/nn_blocks"):
            return CompositeBlockManager(
                cls.read_parquet(spark, f"{path}/blocks", left_name, right_name),
                cls.read_parquet(spark, f"{path}/nn_blocks", left_name, right_name),
            )
        df = spark.read.parquet(path)
        data_cols = [c for c in df.columns if c != "block_key"]
        array_cols = [
            c for c in data_cols if df.schema[c].dataType.typeName() == "array"
        ]
        if "block_key" in df.columns and len(data_cols) == 2 and len(array_cols) == 2:
            return cls(df, left_name or data_cols[0], right_name or data_cols[1])
        # NN-wide: find the left-id column — pandas/dask index metadata
        # names first, else the single non-numeric column
        id_col = next(
            (c for c in df.columns if c in ("__index_level_0__", "__null_dask_index__")),
            None,
        )
        if id_col is None:
            non_numeric = [c for c in df.columns if not c.isdigit()]
            if len(non_numeric) != 1:
                raise ValueError(
                    f"cannot sniff block layout at {path!r}: columns {df.columns}"
                )
            id_col = non_numeric[0]
        neigh_cols = [c for c in df.columns if c != id_col]
        out = df.select(
            F.col(id_col).cast("string").alias("block_key"),
            F.array(F.col(id_col).cast("string")).alias(left_name or "left"),
            F.array_compact(
                F.array(*[F.col(c).cast("string") for c in neigh_cols])
            ).alias(right_name or "right"),
        )
        return cls(out, left_name or "left", right_name or "right")


def _dir_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API so it works on
    any configured storage (local, HDFS, S3A), not just the driver's
    local disk."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


@dataclass(frozen=True)
class CompositeBlockManager:
    """Key-based blocks + NN blocks kept side by side — the reference's
    ``CompositeWithNNBasedKlinkerBlockManager`` (``blocks.py:560-652``):
    pair consumers chain both parts; persistence is the two-subdir
    parquet layout (``blocks/`` + ``nn_blocks/``) the reference writes
    and sniffs on read."""

    blocks: "BlockManager"
    nn_blocks: "BlockManager"

    def block_pairs(self) -> DataFrame:
        """Union of both parts' per-block pairs (``all_pairs`` chains
        the two generators, ``blocks.py:579-584``)."""
        return self.blocks.block_pairs().unionByName(self.nn_blocks.block_pairs())

    def pairs(self, distinct: bool = True) -> DataFrame:
        out = self.blocks.pairs(distinct=False).unionByName(
            self.nn_blocks.pairs(distinct=False)
        )
        return out.distinct() if distinct else out

    def to_parquet(self, path: str) -> None:
        self.blocks.to_parquet(f"{path}/blocks")
        self.nn_blocks.to_parquet(f"{path}/nn_blocks")
