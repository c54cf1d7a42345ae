"""Loaders for the driver-provided test tables.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}``.

Every table reads through ``sources/recorded.read`` with the schema
its file's own footer holds, derived on the driver
(``recorded.footer_schema``): building a table's scan launches no
Spark job. Only a path with no local data file (a remote URI) is
inferred.

Scale posture: loaders return plain scans (no .cache()) so Catalyst
can push filters/projections into the parquet reader; at 100 TB the
same code reads a partitioned table directory instead of a single
file, its schema from one footer, and partition pruning applies
unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import configure
from .sources import recorded

TABLE_NAMES = [
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table; ``events`` gets its nanos timestamp normalized.

    Applies the package's runtime confs to the session first — an
    externally-created (driver) session must get the same optimizer
    posture the queries were tuned for (AQE, the
    InferFiltersFromGenerate exclusion), not just the nanos conf that
    events needs for correctness.
    """
    configure(spark)
    if name == "events":
        return load_events(spark, sf_dir)
    return recorded.read(spark, f"{sf_dir}/{name}.parquet", None)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts_us`` (epoch microseconds, BIGINT) replacing ``ts``.

    The landing file's ``ts`` physical type has varied across driver
    testdata generations — TIMESTAMP(NANOS) (read as BIGINT under
    ``spark.sql.legacy.parquet.nanosAsLong``), TIMESTAMP(MICROS)
    isAdjustedToUTC=false (read as TIMESTAMP_NTZ), or an adjusted
    TIMESTAMP (read as TIMESTAMP_LTZ) — so we dispatch on the type the
    file's footer schema gives ``ts`` (``recorded.footer_schema``, the
    type Spark's inference would resolve) instead of assuming one. All
    three paths produce the same integer instant DuckDB's
    ``epoch_us(ts)`` yields (session tz is pinned UTC, so the NTZ cast
    is interpretation-free). Epoch integers sidestep every
    timezone/format hazard in cross-engine comparison, and the
    normalization is a zero-shuffle projection the scan absorbs. A file
    Spark cannot read (TIMESTAMP(NANOS) on a session where nanosAsLong
    could not be set) raises from the footer mapping, as Spark's
    inference would; it is never loaded through the driver instead.
    """
    configure(spark)
    df = recorded.read(spark, f"{sf_dir}/events.parquet", None)
    ts_type = df.schema["ts"].dataType.simpleString()
    if ts_type == "bigint":
        ts_us = F.expr("ts div 1000")  # nanosAsLong: truncate nanos→micros
    else:
        # timestamp_ntz under a UTC session tz casts instant-preserving;
        # timestamp (ltz) is already an instant.
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return df.select(
        "event_id",
        ts_us.alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for spark.sql-style plans)."""
    dfs = load_all(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
