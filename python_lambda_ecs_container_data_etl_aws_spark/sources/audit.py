"""Append-only ingest audit log — the reference's `log_for_loading` /
`log_for_reporting` tables (`2.2 loading-lambda-for-mysql.py:273,311,389`),
re-expressed as a partitioned Parquet table (SURVEY §1.1).

Every `ingest_file` outcome (ok, count_mismatch, rejected, skipped)
appends one row; re-running a load appends another row rather than
updating in place — the log is the immutable record the "did
yesterday's load succeed" query reads.

The driver already holds the row, so for a local log the driver writes
it: one parquet file per row, written with pyarrow into the day
partition by ``recorded.append_local`` (footer row count checked, then
renamed in): no Spark job and no Python worker. A log at a URI
(``s3a://``, ``hdfs://``, ``file:``) is appended by Spark, one job per
row. Spark reads the files with the declared ``LOG_SCHEMA``, whichever
writer made them.

Scale posture: one tiny file per load event, partitioned by log_date so
status queries prune to the days they ask about. At 100 TB-scale load
volume you'd compact small files per day (a nightly coalesce of closed
partitions) — the append contract and schema stay identical.
"""

from __future__ import annotations

import datetime as _dt
import os
import time
from typing import TYPE_CHECKING
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import local_frame
from . import recorded, swap

if TYPE_CHECKING:  # pragma: no cover - import cycle guard (typing only)
    from .pipeline import IngestReport

LOG_SCHEMA = (
    "file STRING, route STRING, loaded_rows BIGINT, bad_rows BIGINT, "
    "status STRING, detail STRING, ts_us BIGINT, log_date STRING"
)


def _day_schema() -> StructType:
    """The columns of a day's files: every one but the partition's own."""
    return StructType(
        [f for f in StructType.fromDDL(LOG_SCHEMA).fields if f.name != "log_date"]
    )


def log_ingest(
    spark: SparkSession,
    log_dir: str,
    report: "IngestReport",
    now_us: int | None = None,
) -> None:
    """Append one audit row for ``report`` to its ``log_date`` day: as
    one driver-written file (``recorded.append_local``, no Spark job)
    when ``log_dir`` is a local path, by a one-job Spark append when it
    is a URI. ``now_us`` is injectable for deterministic tests; defaults
    to wall-clock."""
    # the write path is a maintenance entry point (single-maintainer
    # contract, sources/swap.py), so it is the safe place to heal a
    # crashed compaction swap — readers must not
    swap.heal_children(log_dir)
    ts = int(time.time_ns() // 1000) if now_us is None else int(now_us)
    day = _dt.datetime.fromtimestamp(ts / 1e6, tz=_dt.timezone.utc).date().isoformat()
    row = (
        report.file,
        report.route,
        int(report.loaded_rows),
        int(report.bad_rows),
        report.status,
        report.detail,
        ts,
    )
    if urlsplit(log_dir).scheme:
        (
            local_frame(spark, [row + (day,)], LOG_SCHEMA)
            .write.mode("append")
            .partitionBy("log_date")
            .parquet(log_dir)
        )
    else:
        recorded.append_local(
            os.path.join(log_dir, f"log_date={day}"), [row], _day_schema()
        )


def load_ingest_log(spark: SparkSession, log_dir: str) -> DataFrame:
    """The audit table, ready for status queries (partition-pruned on
    log_date), always typed as ``LOG_SCHEMA`` — ``log_date`` stays a
    STRING rather than the DATE partition inference would make of it,
    and no schema-inference job runs. An empty/absent log (fresh
    deployment, or retention that expired every day) reads as zero
    rows, not a schema-inference error: the "did yesterday's load
    succeed" job must not die on the day there is nothing to report.
    The empty fallback triggers only when Spark itself cannot read the
    path, so remote (s3a/hdfs) logs are read normally.

    Readers do NOT heal crashed compaction swaps (that would race the
    maintainer's in-flight swap — see sources/swap.py): a day stranded
    by a compaction crash reads as ZERO rows for that day until the
    next log_ingest / compact_log / expire_log heals it — so stranded
    day asides trigger a warning here, making the partial read
    observable without mutating the log dir."""
    import warnings

    from pyspark.errors import AnalysisException

    stranded = swap.stranded_asides(log_dir)
    if stranded:
        warnings.warn(
            f"ingest log has {len(stranded)} day partition(s) stranded "
            f"by a crashed compaction ({stranded[0]}...); those days "
            "read as zero rows until the next maintenance pass heals "
            "them",
            stacklevel=2,
        )
    try:
        return recorded.read(spark, log_dir, StructType.fromDDL(LOG_SCHEMA))
    except AnalysisException:
        # fall back to a typed zero-row log ONLY when the path is
        # genuinely absent or holds no day partitions (fresh deployment,
        # full retention); a local dir WITH partitions that still fails
        # to read is real corruption and must fail loudly, not read as
        # "no loads". Remote paths (os checks false) keep the fallback —
        # Spark already failed to read them.
        if os.path.isdir(log_dir) and any(
            e.startswith("log_date=") for e in os.listdir(log_dir)
        ):
            raise
        return local_frame(spark, [], LOG_SCHEMA)


def status_rollup(log: DataFrame) -> DataFrame:
    """Loads per (log_date, status): the reference's post-load probe
    (`2.2:389` "check log_for_loading for today's status").

    The rollup has one row per day and status, so it is sorted as one
    coalesced partition: a global sort over many partitions would first
    run a range-sampling job to pick its bounds."""
    return (
        log.groupBy("log_date", "status")
        .agg(
            F.count(F.lit(1)).alias("n_loads"),
            F.sum("loaded_rows").cast("bigint").alias("total_rows"),
            F.sum("bad_rows").cast("bigint").alias("total_bad"),
        )
        .coalesce(1)
        .orderBy("log_date", "status")
    )


def compact_log(spark: SparkSession, log_dir: str, log_date: str) -> int:
    """Compact one closed ``log_date`` partition: N one-row appended
    files → one file, read with the declared ``LOG_SCHEMA`` and
    installed by ``recorded.install`` — one Spark job. The nightly
    small-file maintenance the module docstring promises — every
    `ingest_file` appends one tiny parquet file per outcome, which is
    the right write path (no read-modify-write on the hot log) but
    leaves day partitions made of thousands of 1-row files. Returns the
    number of rows compacted.

    Only run on CLOSED days (no concurrent appends): an append racing
    the swap would be lost. Idempotent — re-compacting is a no-op
    rewrite.
    """
    part = os.path.join(log_dir, f"log_date={log_date}")
    # heal crashes for EVERY day, not just this one
    swap.heal_children(log_dir)
    if not os.path.isdir(part):
        return 0
    rows = recorded.read(spark, part, _day_schema())
    return recorded.install(rows.coalesce(1), part)[0]


def expire_log(log_dir: str, keep_after: str) -> list[str]:
    """Retention: drop log_date partitions strictly OLDER than
    ``keep_after`` (ISO date string — lexicographic compare is date
    compare). Partition-dir deletes, no data scan. Returns the dropped
    dates."""
    import shutil

    dropped = []
    if not os.path.isdir(log_dir):
        return dropped
    swap.heal_children(log_dir)  # restore crashed swaps so retention sees them
    for entry in sorted(os.listdir(log_dir)):
        if not entry.startswith("log_date="):
            continue
        day = entry.split("=", 1)[1]
        if day < keep_after:
            shutil.rmtree(os.path.join(log_dir, entry), ignore_errors=True)
            dropped.append(day)
    return dropped
