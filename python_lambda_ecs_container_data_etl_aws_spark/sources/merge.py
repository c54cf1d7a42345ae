"""Upsert merge — the temp→permanent "upsert instead of insert"
contract (`2.2 loading-lambda-for-mysql.py:209-217`, SP call
`2.2:306-316`): on key collision the delta wins; unmatched delta rows
insert; unmatched permanent rows persist.

Plain-Parquet strategy: one union of the permanent rows and the delta,
and one window over the keys that marks every permanent row whose key a
delta row shares (:func:`mark_replaced`). The merged table is the delta
plus the unmarked permanent rows; the marked rows are exactly what the
merge replaces, which is the maintained report's retraction. Delta rows
are kept verbatim, so a matched key holds exactly the delta's rows, and
a key with a NULL part never matches, as in an equi-join. Written by
deterministic partition overwrite for idempotency (ST3).
The change-log rule, :func:`latest_per_key`, shares that union.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

FROM_DELTA = "__from_delta"
REPLACED = "__replaced"


def _union(
    perm: DataFrame | None,
    delta: DataFrame,
    cluster: str | None,
    n_parts: int | None,
) -> DataFrame:
    """``perm`` (None: a new table) ∪ ``delta``, ``FROM_DELTA`` marking
    each row's side. With ``cluster``, one shuffle into ``n_parts`` on it
    puts each value in one task, where a window on (cluster, keys) runs."""
    both = delta.withColumn(FROM_DELTA, F.lit(True))
    if perm is not None:
        both = perm.withColumn(FROM_DELTA, F.lit(False)).unionByName(
            both.select(*perm.columns, FROM_DELTA)
        )
    if cluster is not None:
        both = both.repartition(n_parts, F.col(cluster))
    return both


def mark_replaced(
    perm: DataFrame,
    delta: DataFrame,
    keys: list[str],
    cluster: str | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """``perm`` and ``delta`` as one relation (:func:`_union`): perm's
    columns, plus ``FROM_DELTA`` and ``REPLACED`` (a perm row whose key
    a delta row shares)."""
    by_key = Window.partitionBy(*([cluster] if cluster else []), *keys)
    key_set = F.lit(True)
    for k in keys:
        key_set = key_set & F.col(k).isNotNull()
    return _union(perm, delta, cluster, n_parts).withColumn(
        REPLACED,
        ~F.col(FROM_DELTA) & key_set & F.max(F.col(FROM_DELTA)).over(by_key),
    )


def latest_per_key(
    perm: DataFrame | None,
    delta: DataFrame,
    keys: list[str],
    order: list[Column],
    cluster: str | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """The change-log rule: of ``perm`` ∪ ``delta`` (:func:`_union`),
    the first row per key under ``order`` wins. A tombstone is a row
    like any other, so it stays and outranks older changes."""
    by_key = Window.partitionBy(*([cluster] if cluster else []), *keys)
    rn = F.row_number().over(by_key.orderBy(*order))
    return (
        _union(perm, delta, cluster, n_parts)
        .withColumn("__rn", rn)
        .filter(F.col("__rn") == 1)
        .drop("__rn", FROM_DELTA)
    )


def merged_rows(marked: DataFrame) -> DataFrame:
    """The upsert result of a :func:`mark_replaced` relation."""
    return marked.filter(~F.col(REPLACED)).drop(FROM_DELTA, REPLACED)


def replaced_rows(marked: DataFrame) -> DataFrame:
    """The perm rows a :func:`mark_replaced` relation's delta replaces."""
    return marked.filter(F.col(REPLACED)).drop(FROM_DELTA, REPLACED)


def upsert(perm: DataFrame, delta: DataFrame, keys: list[str]) -> DataFrame:
    """Merge ``delta`` into ``perm`` on ``keys``; delta wins. Columns =
    perm's columns (delta must carry them all)."""
    return merged_rows(mark_replaced(perm, delta, keys))


def incremental_agg_merge(
    base: DataFrame,
    retract: DataFrame | None,
    delta: DataFrame,
    keys: list[str],
    measures: list[str],
) -> DataFrame:
    """Incremental view maintenance for ADDITIVE aggregates (sums,
    counts): ``new_state = base - retract + delta`` per group.

    The reference rebuilds its report table from scratch after every
    load (`2.2:376-398` re-runs the full reporting SP) — at 100 TB the
    rebuild, not the load, is the bottleneck. For additive measures the
    maintained state only needs the aggregates of (a) the rows being
    replaced and (b) the arriving delta: negate the retractions, union
    the three aggregate relations, and re-aggregate. One shuffle on the
    group keys, sized by |groups|, independent of the fact table.

    All three inputs must carry ``keys + measures`` with identical
    names. Use exact types (DECIMAL sums, BIGINT counts) so the
    subtraction is exact — groups whose count reaches zero should be
    filtered by the caller (they have no surviving rows).

    ``retract=None`` (a load that replaced no rows) skips the negated
    branch rather than unioning an empty relation.
    """
    merged = base.select(*keys, *measures)
    if retract is not None:
        merged = merged.unionByName(
            retract.select(*keys, *[(-F.col(m)).alias(m) for m in measures])
        )
    merged = merged.unionByName(delta.select(*keys, *measures))
    return merged.groupBy(*keys).agg(
        *[F.sum(m).alias(m) for m in measures]
    )

