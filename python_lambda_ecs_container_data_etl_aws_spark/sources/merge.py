"""Upsert merge — the temp→permanent "upsert instead of insert"
contract (`2.2 loading-lambda-for-mysql.py:209-217`, SP call
`2.2:306-316`): on key collision the delta wins; unmatched delta rows
insert; unmatched permanent rows persist.

Plain-Parquet strategy: full-outer join + coalesce (delta side first),
written by deterministic partition overwrite for idempotency (ST3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def upsert(perm: DataFrame, delta: DataFrame, keys: list[str]) -> DataFrame:
    """Merge ``delta`` into ``perm`` on ``keys``; delta wins. Columns =
    perm's columns (delta must carry them all)."""
    p, d = perm.alias("p"), delta.alias("d")
    cond = None
    for k in keys:
        c = F.col(f"p.{k}") == F.col(f"d.{k}")
        cond = c if cond is None else (cond & c)
    out_cols = []
    for c in perm.columns:
        if c in keys:
            out_cols.append(F.coalesce(F.col(f"d.{c}"), F.col(f"p.{c}")).alias(c))
        else:
            # delta wins whenever the delta row exists (matched on key),
            # even if its value is NULL — key-presence flag, not value
            # coalesce, decides.
            out_cols.append(
                F.when(F.col(f"d.{keys[0]}").isNotNull(), F.col(f"d.{c}"))
                .otherwise(F.col(f"p.{c}"))
                .alias(c)
            )
    return p.join(d, cond, "full_outer").select(*out_cols)


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

