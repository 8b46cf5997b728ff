"""Schema-enforced readers and writers.

Replaces the reference's ad-hoc reads (header-only CSV at
Yelp_Data_PreProcessing.py:53,69,84; inferSchema glob re-read at
Scalable_EDA_Final.py:52; headerless CSV write caused by the
``option("head","true")`` typo at Yelp_Data_PreProcessing.py:158).

Scale notes:
- Parquet everywhere internally: columnar scan + predicate pushdown +
  column pruning survive in the physical plan (``PushedFilters`` /
  ``ReadSchema`` visible in ``.explain("formatted")``).
- CSV ingest uses PERMISSIVE mode with a ``_corrupt_record`` column so
  dirty rows (the reference's stars>5 mis-parses, SURVEY.md §1.3) are
  quarantined explicitly instead of poisoning downstream casts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import STAR_SCHEMA, TABLE_NAMES

CORRUPT_COL = "_corrupt_record"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-generated star-schema table from parquet."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events.parquet, normalizing ``ts`` to TIMESTAMP_NTZ across
    testdata vintages.

    Two vintages exist in the wild:

    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it outright;
      with ``spark.sql.legacy.parquet.nanosAsLong`` it surfaces as a
      LongType of epoch-nanos, which we rebuild into a microsecond
      timestamp. Integer ``div`` — float division would lose precision
      above 2^53 ns.
    - timestamp[us] (current testdata): reads natively as a timestamp;
      a plain cast to NTZ suffices, and — unlike the long rebuild —
      keeps the column eligible for parquet min/max pruning when a ts
      predicate is pushed down.

    Dispatch on the *actual* column type so a testdata regeneration in
    either direction can't silently break every events consumer (the
    round-2 regression; see tests/test_events_vintage.py).
    """
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = load_table(spark, sf_dir, "events")
    ts_type = ev.schema["ts"].dataType
    if not isinstance(ts_type, T.LongType):
        # µs vintage: the legacy conf played no part in this read —
        # restore it so ONE load_events call doesn't permanently change
        # how every later parquet read in the session decodes
        # TIMESTAMP(NANOS) columns (they should fail fast, not surface
        # as surprise longs). The NANOS vintage must keep it set: the
        # returned (lazy) frame reads through the conf at execution.
        if prev is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    if isinstance(ts_type, T.LongType):
        ts_col = F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
    elif isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
        ts_col = F.col("ts").cast("timestamp_ntz")
    else:  # pragma: no cover - future vintage; fail loudly, not mid-query
        raise TypeError(f"events.ts has unsupported parquet type {ts_type}")
    return ev.withColumn("ts", ts_col)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    header: bool = True,
    multi_line: bool = True,
    quarantine: bool = True,
) -> DataFrame:
    """CSV scan with explicit schema + dirty-row quarantine.

    ``multiLine`` + ``escape='"'`` fix the mis-parsed-multiline-review
    failure mode the reference worked around post hoc
    (Scalable_EDA_Final.py:322,365).
    """
    full_schema = schema
    if quarantine:
        full_schema = T.StructType(
            list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
        )
    reader = (
        spark.read.schema(full_schema)
        .option("header", header)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("multiLine", multi_line)
        .option("escape", '"')
    )
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    quarantine: bool = True,
) -> DataFrame:
    """JSON-lines scan with explicit schema + dirty-row quarantine —
    the raw-crawl ingestion format (one JSON doc per line). Same
    contract as ``read_csv``: PERMISSIVE mode routes unparseable lines
    into ``_corrupt_record`` for ``split_quarantine`` instead of
    failing the job or silently nulling. Explicit schema keeps the
    scan single-pass (inferSchema would read everything twice) and
    projection-prunable."""
    full_schema = schema
    if quarantine:
        full_schema = T.StructType(
            list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
        )
    return (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — the other columnar format Spark ships a vectorized,
    predicate-pushdown-capable native reader for (no external jars).
    Same scan contract as parquet: column pruning + min/max row-group
    skipping reach the file reader, so a 2-column projection over a
    wide ORC table reads 2 streams, not the row. Interop seam for
    Hive-era warehouses whose data is already ORC."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink with the same partitioning surface as write_parquet;
    zlib column compression by default (Spark's ORC default)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean_rows, corrupt_rows) — corrupt rows kept for audit, never
    silently dropped."""
    if CORRUPT_COL not in df.columns:
        return df, df.limit(0)
    # Spark refuses to filter on only the corrupt-record column of a
    # lazy CSV relation; caching materializes it first (documented
    # limitation of columnNameOfCorruptRecord). The cached blocks are
    # reclaimed by Spark's ContextCleaner once the returned frames are
    # garbage-collected (and evicted LRU under memory pressure before
    # that), so repeated ingests don't accumulate pinned storage;
    # long-lived callers that keep references should unpersist via
    # spark.catalog.clearCache() between batches.
    df = df.cache()
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull())
    return clean, bad


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def to_pandas_bounded(df: DataFrame, *, limit: int | None = 100_000):
    """Arrow-accelerated driver hand-off with a mandatory row bound.

    The reference collected an ENTIRE corpus un-Arrow'd
    (Scalable_Project_ML_Model_Analysis.py:126 + SURVEY.md §4.2 item 1
    — O(corpus) driver memory); here the bound is explicit and Arrow is
    required on so the transfer is columnar.
    """
    spark = df.sparkSession
    arrow = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled", "false")
    if arrow != "true":
        raise RuntimeError(
            "enable Arrow before driver hand-off (see session.get_spark)"
        )
    bounded = df.limit(limit) if limit is not None else df
    return bounded.toPandas()


def read_parquet_evolved(
    spark: SparkSession,
    path: str,
    *,
    target_schema: T.StructType | None = None,
) -> DataFrame:
    """Read a parquet directory whose batches were written under
    EVOLVING schemas (columns added over time, integer types widened)
    into one stable frame — the standard data-lake ingestion concern
    at 100 TB, where a decade of writers never shared one schema.

    With ``target_schema``, the requested schema is pushed into the
    parquet reader itself (no post-hoc casts): files missing a column
    yield typed nulls, extra columns never leave the scan (pruned at
    the footer), and integer widening (file INT32 → requested BIGINT)
    happens in the vectorized reader. This is the scalable path — the
    scan stays columnar + pushdown-capable and no per-file driver work
    happens.

    Without ``target_schema``, falls back to ``mergeSchema=true``
    footer-union discovery (distributed, but reads every footer and
    REFUSES conflicting types — Spark raises CANNOT_MERGE_SCHEMAS on
    e.g. INT vs BIGINT vintages). Use discovery to LEARN what's in a
    lake; use the explicit target to INGEST it.
    """
    if target_schema is None:
        return spark.read.option("mergeSchema", "true").parquet(path)
    return spark.read.schema(target_schema).parquet(path)


def write_csv(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """Header actually written (the reference's ``option("head")`` typo
    silently produced headerless output, Yelp_Data_PreProcessing.py:158)."""
    df.write.mode(mode).option("header", True).csv(path)
