"""Serving-table layout — the DynamoDB GSI re-expressed on Parquet
(SURVEY J3): the reference declares HASH key AutoID plus a GSI on
(Date HASH, GEO RANGE) projecting a column subset
(`3. loading-lambda-for-dynamodb.py:216-270`).

Parquet equivalent: partition by the GSI hash key (Date), sort within
partitions by the range key (GEO) so min/max row-group stats make GEO
predicates skippable, and let column pruning play the projection role.
A point lookup is then: partition pruning (Date) → stats skipping
(GEO) → pruned column read. At 100 TB you would additionally bucket by
AutoID for the primary-key path; same writer API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import recorded


def write_serving_table(
    df: DataFrame,
    path: str,
    partition_col: str,
    cluster_col: str,
    max_records_per_file: int | None = None,
) -> None:
    if df.isEmpty():
        # an empty serving refresh must stay READABLE: the partitioned
        # write of zero rows produces no part files (only _SUCCESS) and
        # every later read dies on schema inference. Write one zero-row
        # schema-carrying file instead — the partition column survives
        # as a regular column, so point_query's filters still resolve.
        df.coalesce(1).write.mode("overwrite").parquet(path)
        return
    writer = (
        df.repartition(F.col(partition_col))
        .sortWithinPartitions(cluster_col)
        .write.mode("overwrite")
        .partitionBy(partition_col)
    )
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def point_query(
    spark: SparkSession,
    path: str,
    partition_value,
    cluster_value,
    partition_col: str,
    cluster_col: str,
    projection: list[str] | None = None,
) -> DataFrame:
    """The GSI query shape: equality on (hash, range) + projection.
    Partition pruning handles the hash key; row-group stats the range.
    The table reads with its footer schema (``recorded.read``), so
    building a lookup runs no Spark job."""
    df = (
        recorded.read(spark, path, None)
        .filter(F.col(partition_col) == partition_value)
        .filter(F.col(cluster_col) == cluster_value)
    )
    return df.select(*projection) if projection else df
