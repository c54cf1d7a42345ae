"""Idempotent partition overwrite — the batch form of the reference's
idempotency window (ST3, `2.2 loading-lambda-for-mysql.py:219-255`) and
its day-stamped drop-and-recreate tables (`3:517-552`): re-running a
load for the same logical partition replaces it instead of duplicating.

Plain-Parquet discipline (SURVEY §7 risk register): dynamic partition
overwrite replaces exactly the partitions present in the incoming
DataFrame and leaves the rest of the table untouched. On Delta/Iceberg
this becomes replaceWhere / overwritePartitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned_idempotent(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Dynamic partition overwrite: deterministic re-runs, no dupes.

    An EMPTY frame is a no-op by dynamic-overwrite semantics (no
    partitions present → nothing replaced) — but a first-ever empty
    write would create a part-file-less dir that poisons every later
    read with a schema-inference error, so it is skipped outright (a
    never-written path stays missing, which reads as a clean
    path-not-found instead)."""
    if df.isEmpty():
        return
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
