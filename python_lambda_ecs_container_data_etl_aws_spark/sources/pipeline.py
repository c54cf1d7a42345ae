"""The §3.1 lifecycle collapsed into one callable — what a user of the
reference actually runs: file arrives → route → read+validate → stage →
merge into the permanent table → archive the input → audit-log the
outcome → (reject hook).

The reference spreads this over two lambdas, SQS, and five stored
procedures; here it is one driver function over distributed transforms.
Every step delegates to the tested building blocks in this package.

Scale design — the permanent table is hash-bucket partitioned:

    table_dir/__bucket=0/..., __bucket=1/..., ...

``__bucket = pmod(xxhash64(keys), n_buckets)`` is derivable from the
merge keys alone, so an arriving delta knows exactly which partitions
it can touch; the CSV read's counting aggregate returns that set. The
merge then
  1. reads ONLY those partitions (partition pruning — untouched buckets
     are never scanned), with the schema the table's ``.layout.json``
     records, so no schema-inference job runs (sources/recorded.py);
  2. unions them with the delta, shuffles once on the bucket column and
     marks, over a window on (bucket, keys), every permanent row the
     delta replaces (merge.mark_replaced). That one persisted pass
     feeds both the report's retraction (the marked rows) and the
     merged buckets (the delta plus the unmarked rows) — no join;
  3. installs the merged buckets (recorded.install): one staged file
     per bucket (the window already holds each bucket in one task),
     gated on the staged footers holding every row written, then each
     touched bucket directory swapped in through the crash-safe swap
     (sources/swap.py): a crash mid-swap leaves every bucket either
     fully old or fully new, never destroyed.
Cost per arriving file is proportional to the delta's bucket fanout,
NOT the table size — the property that keeps a 5 MiB file from
rewriting a 100 TB table. On Delta/Iceberg steps 2-3 collapse into
``MERGE INTO`` behind this same function signature (SURVEY §7).

Steps 1-3 are :func:`_upsert_buckets`; the streaming CDC apply writes
through it too, with its own per-key rule.

The A2 count gate (`2.2:300-308`) validates the rows THIS file
delivered (src − bad vs rows staged), never the cumulative table —
comparing a 2-row delta against a billion-row table is meaningless.
Every write this module makes is checked against its own footers:
a short install raises ``recorded.ShortWrite``, which ingest_file
reports as ``count_mismatch`` and compaction and the CDC stream raise.
"""

from __future__ import annotations

import json
import os
import shutil
import warnings
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import archive as archive_mod
from . import recorded, registry, swap
from .audit import log_ingest
from .loader import read_csv_canonical, validate_counts
from .merge import latest_per_key, mark_replaced, merged_rows, replaced_rows
from .report import (
    ReportSpec,
    aggregate_state,
    contributions,
    last_applied_marker,
    refresh_report,
)
from .swap import stranded_asides

BUCKET_COL = "__bucket"


@dataclass
class IngestReport:
    """What the reference returns as {loading_status, error} (`2.2:486-491`).

    ``loaded_rows`` is the rows delivered by THIS file (the delta), not
    the cumulative table size."""

    file: str
    route: str
    loaded_rows: int = 0
    bad_rows: int = 0
    status: str = "ok"
    detail: str = ""
    extras: dict = field(default_factory=dict)


def _bucket_expr(keys: list[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")


def _heal(table_dir: str) -> None:
    """Crash recovery for a permanent table, run by its maintenance
    entry points before anything reads or recreates it: the
    whole-table aside of an unbucketed compaction and every bucket
    aside."""
    swap.heal(table_dir)
    swap.heal_children(table_dir)


def _is_bucketed(table_dir: str) -> bool:
    return any(e.startswith(f"{BUCKET_COL}=") for e in os.listdir(table_dir))


_LAYOUT_FILE = ".layout.json"


def _read_layout(table_dir: str) -> dict | None:
    path = os.path.join(table_dir, _LAYOUT_FILE)
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def _write_layout(
    table_dir: str, keys: list[str], n_buckets: int, schema: StructType
) -> None:
    tmp = os.path.join(table_dir, "." + _LAYOUT_FILE + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(
            {
                "keys": list(keys),
                "n_buckets": int(n_buckets),
                "schema": schema.jsonValue(),
            },
            fh,
        )
    os.replace(tmp, os.path.join(table_dir, _LAYOUT_FILE))


def _table_schema(layout: dict | None) -> StructType | None:
    """The schema a layout records; None for a table without one (keyless,
    or bucketed before schemas were recorded)."""
    if layout is None or "schema" not in layout:
        return None
    return StructType.fromJson(layout["schema"])


def _recorded_schema(table_dir: str) -> StructType | None:
    """The schema recorded for the table at ``table_dir``: its layout's,
    else the ``_schema`` a whole-table install wrote. None for a table
    with neither (a keyless table never compacted), which
    ``recorded.read`` reads with its footer schema."""
    return _table_schema(_read_layout(table_dir)) or recorded.load_schema(table_dir)


def _stage_merge(
    perm: DataFrame | None,
    delta: DataFrame,
    keys: list[str],
    n_parts: int,
    table_dir: str,
    refresh: Callable[[DataFrame | None], None] | None,
    order: list[Column] | None,
) -> tuple[StructType, int, int]:
    """Merge ``delta`` into ``perm`` (None for a fresh table) and install
    the result over the buckets it holds, one file per bucket
    (recorded.install). Returns the written schema, the rows installed
    and the buckets swapped.

    With ``order``, the first row per key under it wins
    (merge.latest_per_key). Without, the delta replaces the key
    (merge.mark_replaced) and ``refresh`` first gets the perm rows it
    replaces. That marked relation feeds the retraction and the write,
    so it is persisted: the touched buckets are scanned and shuffled
    once. This function owns it and releases it on every way out."""

    def install(rows: DataFrame) -> tuple[StructType, int, int]:
        return rows.schema, *recorded.install(rows, table_dir, (BUCKET_COL,))

    if order is not None:
        return install(latest_per_key(perm, delta, keys, order, BUCKET_COL, n_parts))
    if perm is None:
        refresh(None)
        # one bucket -> one task -> one file: no small-file accretion
        return install(delta.repartition(n_parts, F.col(BUCKET_COL)))
    marked = mark_replaced(perm, delta, keys, BUCKET_COL, n_parts).persist()
    try:
        refresh(replaced_rows(marked))
        return install(merged_rows(marked))
    finally:
        marked.unpersist()


def _layout_conflict(
    spark: SparkSession,
    table_dir: str,
    layout: dict | None,
    keys: list[str],
    n_buckets: int,
) -> str | None:
    """Why bucketing ``keys`` into ``n_buckets`` would corrupt the table
    (another bucket function hashes a key away from its old rows, so it
    is silently held twice), or None. Callers adopt a recorded
    ``n_buckets``; without a layout it is a claim, checked against the
    stored buckets (one scan) before a write records it."""
    if layout is not None:
        if list(layout["keys"]) != list(keys):
            return (
                f"table is bucketed on keys={layout['keys']}, "
                f"load requested keys={list(keys)}"
            )
    elif os.path.isdir(table_dir) and _is_bucketed(table_dir):
        bad = recorded.read(spark, table_dir, None).filter(
            _bucket_expr(keys, n_buckets) != F.col(BUCKET_COL)
        )
        if bad.limit(1).count():
            return (
                f"existing bucket layout does not match n_buckets={n_buckets}/"
                f"keys={list(keys)}; pass the values the table was created with"
            )
    return None


def _upsert_buckets(
    spark: SparkSession,
    table_dir: str,
    rows: DataFrame,
    keys: list[str],
    n_buckets: int,
    touched: list[int],
    refresh: Callable[[DataFrame | None], None] | None = None,
    order: list[Column] | None = None,
) -> tuple[int, int]:
    """Merge ``rows`` into the bucketed table at ``table_dir`` — the one
    maintainer of bucketed tables (ingest_file, the CDC stream).
    ``touched`` are the buckets ``rows`` hash into; ``refresh``/``order``
    pick the per-key rule (_stage_merge). Only the touched buckets are
    read (a legacy unbucketed table migrates whole); the merge is
    installed by recorded.install, which raises ``recorded.ShortWrite``
    on a short write. Returns (rows installed, buckets swapped)."""
    layout = _read_layout(table_dir)
    schema = _table_schema(layout)
    delta = rows.withColumn(BUCKET_COL, _bucket_expr(keys, n_buckets))
    if os.path.isdir(table_dir) and _is_bucketed(table_dir):
        perm = recorded.read(spark, table_dir, schema).filter(
            F.col(BUCKET_COL).isin(touched)
        )
        n_parts = len(touched)
    elif os.path.isdir(table_dir):
        perm = recorded.read(spark, table_dir, None).withColumn(
            BUCKET_COL, _bucket_expr(keys, n_buckets)
        )
        n_parts = n_buckets
    else:
        perm, n_parts = None, n_buckets
    written, installed, swapped = _stage_merge(
        perm, delta, keys, n_parts, table_dir, refresh, order
    )
    if schema is None:
        _write_layout(table_dir, keys, n_buckets, written)
    return installed, swapped


def ingest_file(
    spark: SparkSession,
    file_path: str,
    warehouse_dir: str,
    backup_dir: str | None = None,
    keys: list[str] | None = None,
    maxerrors: int = 5,
    n_buckets: int = 64,
    log_dir: str | None = None,
    on_reject: Callable[[IngestReport], None] | None = None,
    quarantine_dir: str | None = None,
    report_spec: ReportSpec | None = None,
    report_dir: str | None = None,
) -> IngestReport:
    """Route → canonical read → maxerrors gate → merge (bucket-scoped
    upsert on keys, else append) → count-validate → archive → audit.

    Unknown filenames quarantine (status='skipped'); the converted_
    guard and extension gates behave exactly like q03's routing rules.
    ``on_reject`` is the reference's reject-with-notification hook
    (`2.1:546-552`) — called for quarantined and maxerrors-rejected
    files; SNS/email/Slack is the caller's choice, the seam is ours.
    ``log_dir`` appends every outcome to the audit log (audit.py).
    ``quarantine_dir`` persists malformed source lines (raw_line +
    source file) so rejected data is inspectable, not just counted —
    written for BOTH outcomes: the bad rows of an accepted load and the
    full bad set of a rejected one.
    ``report_spec``/``report_dir`` maintain an incremental report table
    alongside the load — the reference's load→rebuild-report loop
    (`2.2:376-398`) with the rebuild made delta-scoped
    (report.refresh_report): the retraction is exactly the rows the
    merge marks as replaced, the delta is this file's rows, both fold
    into the report's one aggregate as row-level contributions, and the
    fact table is never re-scanned.
    """

    def _finish(report: IngestReport, rejected: bool = False) -> IngestReport:
        if log_dir:
            log_ingest(spark, log_dir, report)
        if rejected and on_reject is not None:
            on_reject(report)
        return report

    fname = os.path.basename(file_path)
    spec = registry.lookup_table(fname)
    if spec is None:
        route = (
            registry.ROUTE_SKIP_CONVERTED
            if fname.lower().startswith("converted_")
            else registry.ROUTE_QUARANTINE
        )
        return _finish(
            IngestReport(file=fname, route=route, status="skipped"),
            rejected=route == registry.ROUTE_QUARANTINE,
        )

    table_dir = os.path.join(warehouse_dir, spec.table)
    # the bucket function is part of the table's physical layout: a
    # recorded layout fixes it before the read, so the read's counting
    # aggregate can also return the buckets the delta touches
    layout = _read_layout(table_dir) if keys is not None else None
    if layout is not None:
        n_buckets = int(layout["n_buckets"])
    res = read_csv_canonical(
        spark,
        file_path,
        spec,
        maxerrors=maxerrors,
        bucket=None if keys is None else _bucket_expr(keys, n_buckets),
    )
    # the cached CSV scan is released on every way out — a failed
    # staging write, read-back or swap included
    try:

        def _reject(detail: str) -> IngestReport:
            return _finish(
                IngestReport(
                    file=fname,
                    route=spec.table,
                    bad_rows=res.bad_rows,
                    status="rejected",
                    detail=detail,
                ),
                rejected=True,
            )

        if quarantine_dir and res.bad_rows > 0:
            (
                res.quarantine.withColumn("source_file", F.lit(fname))
                .write.mode("append")
                .parquet(quarantine_dir)
            )
        if not res.accepted:
            return _reject(f"{res.bad_rows} bad rows > maxerrors={maxerrors}")

        # crashes interrupted mid-swap must be healed BEFORE the existence
        # check and the merge's permanent-table scan below — otherwise this
        # load would recreate the table from one delta (whole-table swap)
        # or merge without a stranded bucket's rows (per-bucket swap)
        _heal(table_dir)
        # Per-file A2 gate, two halves:
        #  - parse gate (the reference's maxerrors semantics): src rows
        #    minus bad rows vs the good rows the canonical read produced
        #    (all three from the read's one counting pass);
        #  - write gate: the files THIS load physically wrote, read back
        #    (parquet footers, on the driver), must hold the rows the
        #    write observed itself emitting. Comparing the plan against
        #    itself would be a tautology; the read-back catches
        #    lost/partial writes, and every count is bounded by the
        #    delta/touched buckets, never the table. A short write of
        #    the table or the report raises recorded.ShortWrite with
        #    nothing installed; the load reports count_mismatch, and
        #    re-running the file converges.
        loaded = res.good_rows
        extras: dict = {}
        detail = ""

        # Report maintenance ordering + crash recovery: the incremental
        # refresh runs BEFORE the table swap (its retract state reads the
        # pre-merge table) and carries a per-load marker, so the designed
        # recovery — re-running the same file after a crash — converges:
        # a crash before the refresh re-derives the same retract from the
        # unchanged table; a crash after it (mid- or pre-swap) skips the
        # already-applied refresh via the marker and the idempotent merge
        # heals the table. The marker is a high-water guard for the
        # immediate-retry case; re-running an OLD file after newer loads
        # re-applies (use a bootstrap/recompute to repair — see below).
        rdir = report_dir or table_dir + "__report"
        # the marker id must distinguish a crash REPLAY of this physical
        # file (same inode, same mtime — refresh already applied, skip)
        # from a NEW drop that happens to reuse yesterday's filename and
        # row counts (daily re-delivery with updated values — refresh must
        # apply). Name+counts alone cannot tell those apart.
        st = os.stat(file_path)
        load_id = (
            f"{fname}|{res.src_rows}|{res.bad_rows}|{st.st_size}|{st.st_mtime_ns}"
        )
        table_existed = os.path.isdir(table_dir)
        # A missing report over a table WITH history (first enablement, or
        # operational loss) cannot be folded incrementally — bootstrap by
        # full recompute from the merged table after the swap instead.
        bootstrap_report = (
            report_spec is not None and table_existed and not os.path.isdir(rdir)
        )

        def _refresh_incremental(replaced: DataFrame | None) -> None:
            if report_spec is None or bootstrap_report:
                return
            if last_applied_marker(rdir) == load_id:
                return  # crash-recovery re-run: refresh already landed
            # (last_applied_marker healed rdir.) An existing report folds
            # row-level contributions in its one aggregate; a first-ever
            # report is the delta's aggregate state.
            if os.path.isdir(rdir):
                delta_state = contributions(res.good, report_spec)
                retract = (
                    None if replaced is None else contributions(replaced, report_spec)
                )
            else:
                delta_state, retract = aggregate_state(res.good, report_spec), None
            refresh_report(
                spark,
                rdir,
                report_spec,
                delta_state=delta_state,
                retract_state=retract,
                marker_batch_id=load_id,
            )

        try:
            if keys is not None:
                # a keys or bucket-count conflict rejects the load through
                # the normal path (audit row + on_reject + cache release),
                # like every other failure
                conflict = _layout_conflict(spark, table_dir, layout, keys, n_buckets)
                if conflict is not None:
                    return _reject(conflict)
                if loaded == 0:
                    # Empty accepted delta (header-only file, or every bad
                    # row quarantined within maxerrors): nothing to merge.
                    # No write, no swap, no migration (a legacy unbucketed
                    # table migrates on its next non-empty load).
                    extras["persisted_rows"] = 0
                    extras["buckets_touched"] = 0
                else:
                    extras["persisted_rows"], extras["buckets_touched"] = (
                        _upsert_buckets(
                            spark, table_dir, res.good, keys, n_buckets, res.buckets,
                            refresh=_refresh_incremental,
                        )
                    )
            else:
                _refresh_incremental(None)
                before_files = (
                    {f for f in os.listdir(table_dir) if f.endswith(".parquet")}
                    if table_existed
                    else set()
                )
                res.good.write.mode(
                    "append" if table_existed else "overwrite"
                ).parquet(table_dir)
                new_files = [
                    os.path.join(table_dir, f)
                    for f in os.listdir(table_dir)
                    if f.endswith(".parquet") and f not in before_files
                ]
                extras["persisted_rows"] = sum(map(recorded.footer_rows, new_files))
                if extras["persisted_rows"] != loaded:
                    # roll the append back to the pre-load state — a
                    # partial write must not linger in the live table
                    if table_existed:
                        for f in new_files:
                            try:
                                os.remove(f)
                            except OSError:
                                pass
                    else:
                        shutil.rmtree(table_dir, ignore_errors=True)
                    raise recorded.ShortWrite(
                        table_dir, extras["persisted_rows"], loaded
                    )

            if bootstrap_report:
                merged_facts = recorded.read(
                    spark, table_dir, _recorded_schema(table_dir)
                )
                if BUCKET_COL in merged_facts.columns:
                    merged_facts = merged_facts.drop(BUCKET_COL)
                refresh_report(
                    spark,
                    rdir,
                    report_spec,
                    delta_state=aggregate_state(merged_facts, report_spec),
                    marker_batch_id=load_id,
                )
        except recorded.ShortWrite as e:
            detail = str(e)

        ok = not detail and validate_counts(
            res.src_rows - res.bad_rows, loaded, maxerrors
        )
        report = IngestReport(
            file=fname,
            route=spec.table,
            loaded_rows=loaded,
            bad_rows=res.bad_rows,
            status="ok" if ok else "count_mismatch",
            detail=detail,
            extras=extras,
        )
        if backup_dir:
            archive_mod.archive_file(file_path, backup_dir)
        return _finish(report)
    finally:
        res.release()


def read_permanent(
    spark: SparkSession, warehouse_dir: str, table: str, strict: bool = False
) -> DataFrame:
    """The permanent table without the internal layout column.

    Readers never mutate the table dir: healing here would race the
    single maintainer's own mid-flight swap. Only the maintenance entry
    points (``ingest_file``, ``compact_table``, ``cdc_apply_stream``)
    heal, so a read inside the crash window of a whole-table swap fails
    on the missing path, and one after a crashed per-bucket swap reads
    the surviving buckets (asides are dot-prefixed, invisible to
    partition discovery). Stranded asides warn (default), or raise a
    ``RuntimeError`` under ``strict=True`` for jobs that must not
    consume partial tables."""
    table_dir = os.path.join(warehouse_dir, table)
    asides = stranded_asides(table_dir)
    if asides:
        msg = (
            f"table '{table}' has {len(asides)} stranded swap aside(s) "
            f"from a crashed maintenance pass ({asides[0]}...); reads may "
            "be partial until the next ingest/compaction heals them"
        )
        if strict:
            raise RuntimeError(msg)
        warnings.warn(msg, stacklevel=2)
    df = recorded.read(spark, table_dir, _recorded_schema(table_dir))
    return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df


def compact_table(
    spark: SparkSession,
    table_dir: str,
    max_files_per_bucket: int = 1,
) -> int:
    """Merge the small files incremental ingestion accretes: every
    bucket-scoped upsert writes at least one new file per touched
    bucket, so a bucket that receives a daily 2-row delta is a thousand
    tiny files after three years — and scan cost at 100 TB is dominated
    by file-open overhead, not bytes.

    Only buckets whose file count exceeds ``max_files_per_bucket`` are
    read (partition pruning keeps every healthy bucket untouched — same
    contract as the merge itself); each is rewritten as one file per
    bucket (``repartition(n, bucket)`` maps a bucket to exactly one
    task) and installed like ingest's merge (recorded.install): a short
    write raises ``recorded.ShortWrite`` with the live table untouched,
    and a crash mid-compaction never loses a bucket. Returns the number
    of buckets compacted.

    Unbucketed tables (the keyless append path — one new file per
    appended load) compact as a whole: ``max_files_per_bucket`` files
    installed over the whole table dir. A crash inside the
    swap is healed on entry here AND by ``ingest_file`` before anything
    else reads or recreates the path.

    The audit-log twin is :func:`audit.compact_log` (date-partitioned);
    this one owns the ingest pipeline's permanent tables.
    """
    _heal(table_dir)
    if not os.path.isdir(table_dir):
        return 0

    def oversized(d: str) -> bool:
        n_files = sum(f.endswith(".parquet") for f in os.listdir(d))
        return n_files > max_files_per_bucket

    schema = _recorded_schema(table_dir)
    if not _is_bucketed(table_dir):
        if not oversized(table_dir):
            return 0
        rows = recorded.read(spark, table_dir, schema)
        rows, by = rows.repartition(max_files_per_bucket), ()
    else:
        todo = [
            int(e.split("=", 1)[1])
            for e in sorted(os.listdir(table_dir))
            if e.startswith(f"{BUCKET_COL}=") and oversized(os.path.join(table_dir, e))
        ]
        if not todo:
            return 0
        rows = recorded.read(spark, table_dir, schema).filter(
            F.col(BUCKET_COL).isin(todo)
        )
        rows, by = rows.repartition(len(todo), F.col(BUCKET_COL)), (BUCKET_COL,)
    return recorded.install(rows, table_dir, by)[1]
