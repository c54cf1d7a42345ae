"""Maintained report table — incremental view maintenance wired into
the ingest lifecycle.

The reference re-runs its full reporting stored procedure after every
load (`2.2 loading-lambda-for-mysql.py:376-398`, logged to
`log_for_reporting` at `2.2:389`): load file → rebuild report. At
100 TB the rebuild, not the load, is the bottleneck — every arriving
5 MiB file re-aggregates the whole fact table. For ADDITIVE measures
(counts, exact-typed sums) the maintained state only needs the
aggregates of (a) the rows the merge replaced and (b) the arriving
delta: ``new = base − retract + delta`` per group
(merge.incremental_agg_merge). Cost scales with the delta and the
number of groups, never the fact table. The retraction and the delta
can be passed as row-level :func:`contributions`, so the refresh's one
aggregate folds them together with the base.

The report table itself is |groups|-sized, so a full rewrite of the
report directory per refresh, count-gated by ``recorded.install``, is
the cheap part; the win is never re-scanning the facts. The install
records the state's schema, so reading the report launches no
schema-inference job.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import recorded, swap
from .merge import incremental_agg_merge


@dataclass(frozen=True)
class ReportSpec:
    """Declares the maintained aggregate: GROUP BY ``group_keys``,
    COUNT(*) AS n_rows, plus one SUM per ``sums`` entry.

    ``sums`` maps output column name → SQL expression over the fact
    columns. Use exact types (CAST(... AS DECIMAL(p,s)) / BIGINT) so the
    retraction subtraction is exact — float sums would drift under
    incremental maintenance.
    """

    group_keys: tuple[str, ...]
    sums: tuple[tuple[str, str], ...] = ()

    @property
    def measures(self) -> list[str]:
        return ["n_rows", *[name for name, _ in self.sums]]


def aggregate_state(df: DataFrame, spec: ReportSpec) -> DataFrame:
    """The report state of ``df``: one row per group with additive
    measures. Used for deltas, retractions, and full rebuilds alike."""
    return df.groupBy(*[F.col(k) for k in spec.group_keys]).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(F.expr(expr)).alias(name) for name, expr in spec.sums],
    )


def contributions(df: DataFrame, spec: ReportSpec) -> DataFrame:
    """Each row of ``df`` as its own additive state: ``n_rows`` = 1 plus
    each ``sums`` expression, not yet aggregated. Folding these into an
    existing report costs no aggregate of its own."""
    return df.select(
        *[F.col(k) for k in spec.group_keys],
        F.lit(1).cast("bigint").alias("n_rows"),
        *[F.expr(expr).alias(name) for name, expr in spec.sums],
    )


def refresh_report(
    spark: SparkSession,
    report_dir: str,
    spec: ReportSpec,
    delta_state: DataFrame,
    retract_state: DataFrame | None = None,
    marker_batch_id: int | str | None = None,
) -> None:
    """Fold one load's delta (and the merge's retractions) into the
    maintained report table at ``report_dir``.

    ``retract_state`` is derived from the PRE-merge table: run this
    refresh before the permanent table is rewritten (Spark evaluates
    lazily — pipeline.ingest_file refreshes before its bucket swap),
    or materialize the retract first.

    Both states may be aggregated (:func:`aggregate_state`) or
    row-level (:func:`contributions`) when ``report_dir`` exists; a
    first-ever report takes ``delta_state`` as it is, so it must be
    aggregated then.

    ``marker_batch_id`` (replay guard — a streaming batch id or a
    pipeline load id) is written into the staging dir as ``_last_batch``,
    next to the state's recorded ``_schema``, BEFORE the swap —
    underscore-prefixed so parquet readers skip them — making state,
    schema and marker flip in the same atomic rename (see
    streaming.runner.refresh_report_once / pipeline.ingest_file).

    A MISSING ``report_dir`` is treated as a first-ever bootstrap: the
    state becomes the delta alone and any retract is ignored. Callers
    maintaining a report over a table that already has history must
    bootstrap explicitly (pipeline.ingest_file recomputes from the
    merged table in that case) — folding a delta into a missing base
    would silently diverge from the facts.
    """
    swap.heal(report_dir)
    if os.path.isdir(report_dir):
        state = incremental_agg_merge(
            read_report(spark, report_dir),
            retract_state,
            delta_state,
            list(spec.group_keys),
            spec.measures,
        )
    else:
        state = delta_state
    # groups whose every row was replaced away retract to n_rows = 0 —
    # they have no surviving facts and leave the report
    state = state.filter(F.col("n_rows") > 0)
    recorded.install(
        state.coalesce(1),
        report_dir,
        files={} if marker_batch_id is None else {"_last_batch": str(marker_batch_id)},
    )


def last_applied_marker(report_dir: str) -> str | None:
    """The raw ``_last_batch`` marker inside the report dir, or None."""
    swap.heal(report_dir)
    marker = os.path.join(report_dir, "_last_batch")
    if os.path.isfile(marker):
        with open(marker) as fh:
            return fh.read().strip() or None
    return None


def last_applied_batch(report_dir: str) -> int:
    """The ``_last_batch`` marker as a streaming batch id, or -1 (also
    -1 for a non-numeric pipeline load-id marker)."""
    raw = last_applied_marker(report_dir)
    try:
        return int(raw) if raw is not None else -1
    except ValueError:
        return -1


def read_report(spark: SparkSession, report_dir: str) -> DataFrame:
    """The report with its recorded schema (inferred for a report
    written before schemas were recorded)."""
    return recorded.read(spark, report_dir, recorded.load_schema(report_dir))
