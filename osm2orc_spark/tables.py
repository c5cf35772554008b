"""Load the driver's parquet tables and register temp views.

All query callables take ``(spark, sf_dir)`` and read from
``{sf_dir}/{table}.parquet`` (TESTDATA.md). Reads are plain
``spark.read.parquet`` so Catalyst gets predicate pushdown + column
pruning into the scan for free.
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

# Small dimension tables: always broadcast-joinable at any scale factor.
# region/nation are bounded by geography (25 nations, 5 regions at every SF).
BROADCAST_TABLES = {"region", "nation"}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name in BROADCAST_TABLES:
        # Explicit hint: these stay dimension-tiny at every SF, but size
        # estimates can exceed autoBroadcastJoinThreshold on wide scans —
        # the hint pins the single-shuffle-free plan at any scale.
        return F.broadcast(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    if name == "events":
        # session-timezone TIMESTAMP ts however the file encodes it
        return normalize_ts(read_events_raw(spark, f"{sf_dir}/{name}.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_events_raw(spark: SparkSession, path: str) -> DataFrame:
    """Batch-read events parquet with TIMESTAMP(NANOS) surfaced as LONG.

    Drivers have shipped this table two ways: TIMESTAMP(NANOS), which
    Spark's reader rejects unless nanos are surfaced as raw LONG, and
    plain TIMESTAMP(MICROS) without UTC adjustment, which Spark reads as
    TIMESTAMP_NTZ; ``normalize_ts`` turns either into TIMESTAMP.

    The nanosAsLong conf is session-level and deliberately not restored --
    the scan resolves it lazily at execution time, so a set/restore scope
    would race the (lazy) plan. It only changes behavior for genuine
    TIMESTAMP(NANOS) files, which this repo always treats as long-typed.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path)


def normalize_ts(df: DataFrame) -> DataFrame:
    """``ts`` as session-timezone TIMESTAMP, batch or streaming. Query
    code downstream was written against TimestampType (comparisons with
    timestamp literals, window()/date_trunc), so both on-disk encodings
    normalize to it:

    - LONG (nanos-as-long): integer-divide to micros (the generated data
      is µs-precision, so lossless) and convert via timestamp_micros.
    - TIMESTAMP_NTZ: cast to TIMESTAMP. The cast attaches the session
      timezone to the wall-clock value and collect() renders in the same
      session timezone, so the round-trip preserves the wall-clock the
      DuckDB oracle sees no matter what the session timezone is.
    """
    ts_type = df.schema["ts"].dataType.typeName()
    if ts_type == "long":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type != "timestamp":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register temp views so corpus queries can run via ``spark.sql``."""
    for name in tables or TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
