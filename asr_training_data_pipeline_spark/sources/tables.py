"""Parquet star-schema sources.

The engine's batch inputs are the driver-generated TPC-H-ish tables
(see /root/repo/TESTDATA.md). Everything is read with explicit paths
and no schema inference — parquet footers carry the schema, and
Catalyst gets filter pushdown + column pruning on these scans for
free (verify with ``df.explain``: ``PushedFilters`` / ``ReadSchema``).

Scale notes (100 TB): the fact tables (lineitem/orders/events/
documents/embeddings) are the big side — scans are split by
``spark.sql.files.maxPartitionBytes``; the dims (region/nation/
supplier/part/customer) stay broadcast-able at any realistic SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
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
)

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table with normalized timestamp columns.

    SIDE EFFECT (by contract): pins two runtime-settable SQL confs on
    the caller's session — ``spark.sql.session.timeZone=UTC`` and
    ``spark.sql.legacy.parquet.nanosAsLong=true``. The UTC pin is load-
    bearing: every oracle comparison (DuckDB reads naive timestamps as
    UTC) and every unix_micros/date_format in the registered queries
    depends on it, and it must hold on foreign sessions the harness
    builds. Library users in a non-UTC locale who share the session for
    their own reads will see timestamps rendered in UTC afterwards; use
    a separate session (or re-set the conf) if that matters.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Foreign-session contract: every registered query must run on a
    # SparkSession the caller built (the correctness harness does not use
    # session.py's factory). Some testdata generations write events.ts as
    # TIMESTAMP(NANOS), which vanilla Spark refuses to read; nanosAsLong
    # is a runtime-settable SQL conf, so set it here — idempotent, and a
    # no-op for micros-typed data.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Pin the session timezone: the NTZ→LTZ normalization below and
    # every downstream unix_micros/date_format must agree with the
    # DuckDB oracle's naive-as-UTC reading even when the caller's JVM
    # defaults to a non-UTC zone (runtime-settable, idempotent).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    # Normalize every TIMESTAMP-typed parquet column to TimestampType
    # (LTZ), whatever physical form this testdata generation used.
    # The parquet FOOTER is the source of truth (testdata regenerates
    # between rounds and has already flipped types once — r2 wrote
    # events.ts as TIMESTAMP(NANOS), r3 as TIMESTAMP(MICROS, ntz)):
    # - TIMESTAMP(NANOS) + nanosAsLong → nanosecond longs. The Spark
    #   schema alone can't distinguish that from a true long column,
    #   so consult the footer; values are micro-aligned in practice,
    #   making the truncating division to micros lossless (the ANSI
    #   nanos→micros cast).
    # - TIMESTAMP(MICROS/MILLIS, isAdjustedToUTC=false) →
    #   TIMESTAMP_NTZ; cast to LTZ (identity under the UTC session
    #   contract — session.py pins UTC and the harness host runs UTC).
    # LTZ is what the time-consuming operators (unix_micros, RANGE
    # frames, as-of joins) expect, and matches DuckDB's naive-as-UTC
    # epoch_us semantics.
    ts_cols = _parquet_timestamp_columns(path)
    for f in df.schema.fields:
        if f.name not in ts_cols:
            continue
        if isinstance(f.dataType, T.LongType):
            df = df.withColumn(
                f.name, F.expr(f"timestamp_micros(`{f.name}` div 1000)")
            )
        elif isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast(T.TimestampType()))
    return df


def _parquet_timestamp_columns(path: str) -> frozenset[str]:
    """Column names carrying a parquet TIMESTAMP logical type, read
    from footer metadata only (no data IO). Handles both single-file
    and directory-style parquet datasets (``pyarrow.dataset`` unifies
    the two; ``pq.ParquetFile`` alone rejects directories). Falls back
    to the historical {'ts'} convention — with a visible warning — only
    if pyarrow itself is unavailable; a footer-read failure on an
    existing path propagates, because silently mis-typing timestamp
    columns downstream is worse than failing the read here."""
    try:
        import pyarrow as pa
        import pyarrow.dataset as pads
    except ImportError:  # pragma: no cover - pyarrow is a hard dep of pyspark
        import warnings

        warnings.warn(
            "pyarrow unavailable; assuming only 'ts' is a timestamp column "
            f"in {path}",
            RuntimeWarning,
            stacklevel=2,
        )
        return frozenset({"ts"})
    schema = pads.dataset(path, format="parquet").schema
    return frozenset(f.name for f in schema if pa.types.is_timestamp(f.type))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL API paths)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def read_transcripts(spark, path_glob: str):
    """S1 transcript scan (claude_research_optimal.py:434): whole-file
    UTF-8 text, one row per file, with the source path for pairing.
    ``wholetext`` keeps one transcript per row (the reference reads the
    entire file as one string); the input_file_name column is the join
    key for J5 positional pairing at scale."""
    from pyspark.sql import functions as F

    return spark.read.text(path_glob, wholetext=True).select(
        F.input_file_name().alias("path"), F.col("value").alias("text")
    )


def read_audio_files(spark, path_glob: str):
    """S2 audio container scan (claude_research_optimal.py:474): opaque
    bytes + metadata via the binaryFile source; decode happens later in
    a pandas-UDF stage (operators.multimodal), never at scan time —
    filters on path/length prune before any decode."""
    return spark.read.format("binaryFile").load(path_glob).select(
        "path", "length", "content"
    )


def read_summaries(spark, path_glob: str):
    """S5 summary read-back (batch_processor.py:93-95): JSON."""
    return spark.read.json(path_glob)
