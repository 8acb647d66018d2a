"""Table loaders for the synthetic star schema (TESTDATA.md).

One quirk: ``events.parquet`` has stored ``ts`` either as parquet
``TIMESTAMP(MICROS)`` (current testdata) or ``TIMESTAMP(NANOS)`` —
the latter Spark's vectorized reader rejects (`PARQUET_TYPE_ILLEGAL`)
unless ``spark.sql.legacy.parquet.nanosAsLong`` is set (done once in
``session.get_spark``), in which case the column arrives as ``bigint``
nanos.  ``event_ts`` (applied by ``load_events``) normalizes either
form to a microsecond timestamp column, batch or streaming, so
downstream window/watermark code is storage-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

__all__ = ["TABLES", "load_table", "load_tables", "load_events", "event_ts", "load_text_corpus"]


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def event_ts(df: DataFrame) -> DataFrame:
    dt = dict(df.dtypes)["ts"]
    if dt == "bigint":
        # Integer division: ts ~1.7e18 exceeds double's exact range, so
        # (ts/1000).cast("long") is off by 1µs for ~half the rows.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif dt == "timestamp_ntz":
        # session tz is UTC, so ntz -> timestamp preserves the instant;
        # downstream watermarks need the instant-typed column
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def load_text_corpus(
    spark: SparkSession, path: str, whole_files: bool = False
) -> DataFrame:
    """Raw-text corpus source for the curation pipeline:
    ``(doc_id string, source string, text string)``.

    - ``whole_files=True``: one document per FILE (``wholetext``) —
      the typical raw-crawl layout; ``doc_id`` = the file path
      (globally unique, stable across runs and partitionings).
    - default: one document per LINE; ``doc_id`` =
      ``xxhash64(file, line)`` as a hex string — deterministic and
      partitioning-independent, with the documented caveat that
      byte-identical repeated lines within one file collapse to one id
      (they are exact duplicates; every dedup stage would drop them
      anyway).

    Line corpora with per-doc metadata should use JSONL via
    ``spark.read.json`` instead — this loader is for bare ``.txt``.
    Scale: the text source splits by file (and by range within
    uncompressed files), so a directory of shards parallelizes like
    any other scan; no shuffle is added here.
    """
    if whole_files:
        df = spark.read.format("text").option("wholetext", "true").load(path)
        df = df.select(F.input_file_name().alias("source"), F.col("value").alias("text"))
        return df.select(F.col("source").alias("doc_id"), "source", "text")
    df = spark.read.format("text").load(path)
    df = df.select(F.input_file_name().alias("source"), F.col("value").alias("text"))
    return df.select(
        F.hex(F.xxhash64(F.col("source"), F.col("text"))).alias("doc_id"),
        "source",
        "text",
    )
