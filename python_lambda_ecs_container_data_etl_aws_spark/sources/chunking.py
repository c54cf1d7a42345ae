"""Dense surrogate ids (AutoID) and size-based chunking — the DynamoDB
loader's `convert_file_with_index` (`3. loading-lambda-for-dynamodb.py:378-401`)
and the leader's `split_file` arithmetic (`2.1 leader-lambda-for-mysql.py:432-479`),
re-expressed without a global single-partition sort.

Scalable dense-id pattern: range-partition by the ordering key, number
rows *within* each partition, then add per-partition offsets (a tiny
driver-side cumulative sum over partition counts). Equivalent to a
global ROW_NUMBER, but every stage is parallel; the only serial data
is one row per partition.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame


def add_autoid(df: DataFrame, order_cols: list[str], partitions: int | None = None) -> DataFrame:
    """Append dense 1-based ``autoid`` ordered by ``order_cols``.

    Parallel equivalent of ROW_NUMBER() OVER (ORDER BY ...): range
    partitioning preserves global order across partitions; offsets are
    computed from per-partition counts (one tiny collect).

    The per-partition offset joins in as a broadcast (pid → offset)
    relation — NOT a chained CASE WHEN literal: an expression with one
    branch per partition is O(P) deep and blows past JVM codegen method
    limits somewhere past ~10k partitions, exactly the partition counts
    a 100 TB input arrives with. The broadcast table is one row per
    partition regardless of P, built on the driver as a
    ``LocalRelation`` (``session.local_frame``): joining it starts no
    Python worker and runs no job.

    The within-partition number comes from the data's cached sort
    order (``sortWithinPartitions`` + the record-index bits of
    ``monotonically_increasing_id``), NOT a ``Window.partitionBy(pid)``
    — that window would re-shuffle the entire relation by pid just to
    number rows that are already colocated and sorted. Net: the only
    full-data exchange in the whole op is the range partitioning
    itself. Relies on mid's documented layout (31-bit partition id,
    33-bit record index ⇒ ≤8.6B rows/partition); the dense-id tests
    fail loudly if either the layout or the cached order ever drifts.

    Lifetime note: ``ranged`` stays persisted until the caller's action
    completes (the numbering pass must see the same physical
    partitioning — and row order — the offsets were computed from).
    Callers running many plans in one session should
    ``spark.catalog.clearCache()`` between them (bench.py does).
    """
    if partitions is None:
        partitions = df.sparkSession.sparkContext.defaultParallelism
    # persist: repartitionByRange samples (and AQE may re-coalesce) per
    # execution — the offset pass and the numbering pass must see the
    # SAME physical partitioning or ids drift.
    ranged = (
        df.repartitionByRange(partitions, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    counts = {r["__pid"]: r["cnt"] for r in ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = local_frame(df.sparkSession, offsets or [(0, 0)], "__pid INT, __off BIGINT")
    rn = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)) + 1
    return (
        ranged.withColumn("__rn", rn)
        .join(F.broadcast(off_df), "__pid")
        .withColumn("autoid", (F.col("__rn") + F.col("__off")).cast("bigint"))
        .drop("__pid", "__rn", "__off")
    )


def add_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_total",
    partitions: int | None = None,
) -> DataFrame:
    """Append a global running total of ``value_col`` ordered by
    ``order_cols`` — ``SUM(v) OVER (ORDER BY ...)`` without the
    single-partition global window.

    Same two-pass shape as :func:`add_autoid` (which is the
    ``value_col = 1`` special case): range-partition by the ordering
    key, window-cumsum *within* each partition, then add per-partition
    base offsets computed from a one-row-per-partition collect and
    broadcast back. Feeds sequence packing (q46) and any token-budget
    arithmetic over a corpus ordering.
    """
    if partitions is None:
        partitions = df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(partitions, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    sums = {
        r["__pid"]: r["s"]
        for r in ranged.groupBy("__pid")
        .agg(F.sum(F.col(value_col)).cast("bigint").alias("s"))
        .collect()
    }
    offsets, acc = [], 0
    for pid in sorted(sums):
        offsets.append((pid, acc))
        acc += int(sums[pid] or 0)
    off_df = local_frame(df.sparkSession, offsets or [(0, 0)], "__pid INT, __off BIGINT")
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranged.withColumn("__ps", F.sum(F.col(value_col)).over(w).cast("bigint"))
        .join(F.broadcast(off_df), "__pid")
        .withColumn(out_col, (F.col("__ps") + F.col("__off")).cast("bigint"))
        .drop("__pid", "__ps", "__off")
    )


def lines_per_file(total_rows: int, size_mib: float, target_mib: float = 5.0) -> int:
    """The reference's split formula: ``int(N * target / size_mib)``
    (`2.1:453`), floored at 1."""
    return max(1, int(total_rows * target_mib / size_mib))


def assign_chunks(df_with_autoid: DataFrame, total_rows: int, size_mib: float, target_mib: float = 5.0) -> DataFrame:
    """Append ``chunk`` = (autoid-1) div lines_per_file — contiguous
    ranges, short last chunk included (`2.1:457-479`)."""
    lpf = lines_per_file(total_rows, size_mib, target_mib)
    return df_with_autoid.withColumn(
        "chunk", F.expr(f"(autoid - 1) div {lpf}")
    )


def n_chunks(total_rows: int, size_mib: float, target_mib: float = 5.0) -> int:
    return math.ceil(total_rows / lines_per_file(total_rows, size_mib, target_mib))

