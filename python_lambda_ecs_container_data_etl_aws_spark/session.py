"""SparkSession factory.

The reference pins its runtime to EST/America-New_York
(`2.1 leader-lambda-for-mysql.py:103-107`, `2.2 loading-lambda-for-mysql.py:104-109`)
because Lambda runs in UTC and its recency windows are wall-clock based.
We pin the session timezone explicitly (UTC by default — every
time-based query in the catalog works in epoch integers so the choice
never leaks into results) and enable AQE so skewed joins and
post-shuffle partition counts are re-planned at runtime — the 100 TB
posture, even when testing on local[*].
"""

from __future__ import annotations

import os
import warnings

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Runtime SQL confs that queries in this package rely on. They are
# applied by ``configure()`` to *any* session (including one created by
# an external driver), so the query catalog works regardless of who
# built the SparkSession.
RUNTIME_CONFS: dict[str, str] = {
    # testdata events.parquet stores ts as INT64 TIMESTAMP(NANOS,false),
    # which Spark's parquet reader rejects by default; read it as a
    # nanosecond long and convert explicitly (catalog.load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime coalescing of shuffle partitions + skew-join handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Broadcast THRESHOLDS (SURVEY §4: "broadcast thresholds for
    # dimension tables") — the size-based lever that replaced round 6's
    # hard F.broadcast() hints on SF-scaled dims. 16 MB instead of the
    # 10 MB default, measured on the sf10 tier in round 7:
    #  - at 10 MB, customer/part (≈14 MB parquet) flip to sort-merge
    #    joins and the selective dim filters stop pruning before the
    #    big orderkey shuffle (q168 5.7→15 s);
    #  - at 64 MB, ORDERS (18.5 MB parquet, 15 M rows) broadcasts too —
    #    the threshold compares COMPRESSED file bytes while the
    #    in-memory hash relation inflates ~10×, so a "small" fact costs
    #    a 15-20 s driver-side build and real heap pressure.
    # 16 MB takes the true dims and excludes the smallest fact at every
    # bench tier, reproducing the hinted round-6 plan shape (broadcast
    # dims prune BEFORE the one co-keyed fact SMJ) with no hints. Still
    # scale-safe where hints were not: a dim that outgrows 16 MB
    # (customer at the 100 TB target is GBs) is excluded by the SAME
    # size check — the driver never builds an unbounded table.
    "spark.sql.autoBroadcastJoinThreshold": "16777216",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "16777216",
    # Scan-split sizing: the default 4 MiB openCostInBytes models HDFS
    # file-open latency and floors maxSplitBytes at 4 MiB — on local
    # SSD/page-cache a small single-file table (the driver testdata
    # layout) then scans as 1-4 tasks no matter the core count, and
    # CPU-heavy scan-stage work (shingling, signatures: ~100x the cost
    # per byte of a plain scan) serializes. 512 KiB lets
    # totalBytes/defaultParallelism govern instead, so splits track
    # cores; the 128 MiB maxPartitionBytes cap still rules big files.
    # Found by the round-5 sf1 scale tier (single-task 65 s stages).
    "spark.sql.files.openCostInBytes": "524288",
    # InferFiltersFromGenerate copies the generator's child expression
    # into an inferred `size(e) > 0 AND isnotnull(e)` filter. When the
    # child is a computed higher-order expression (our shingle / n-gram
    # arrays: transform + array_distinct over the token list) the whole
    # interpreted lambda pipeline is then evaluated 3x per row — the
    # q22 shingle build measured 8.6s vs 1.4s on 5k docs. Every explode
    # in this package generates from a same-row computed array, where
    # the inferred filter can never prune I/O, so the rule is pure cost.
    "spark.sql.optimizer.excludedRules": "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply the package's runtime confs to an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException as e:
            # a deployment that locks this conf: keep going, say which
            if not (e.getCondition() or "").startswith("CANNOT_MODIFY"):
                raise
            warnings.warn(f"cannot set {k} on this session ({e.getCondition()})")
    return spark


def get_spark(app_name: str = "python-lambda-ecs-etl-spark", cpus: int | None = None) -> SparkSession:
    """Create (or fetch) a local session sized for this container.

    ``SPARK_GRAFT_CPUS`` mirrors the driver's bench contract; shuffle
    partition count tracks it so small-SF local runs don't pay for 200
    empty partitions while real-cluster deployments override via
    spark-submit conf.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        # local[N,2] = N threads, maxFailures 2. Plain local[N] runs with
        # ZERO task retries — unlike any real deployment (cluster default
        # spark.task.maxFailures=4) — so one transient per-task
        # SparkOutOfMemoryError kills a whole multi-hundred-second run.
        # Round 11 measured that class directly: 32 concurrent tasks
        # sharing one unified pool under humongous-allocation + codec-JNI
        # GCLocker churn nondeterministically starve a task of its last
        # 64 KB (q163/q158 at sf10-sf100, either codec; each passed on
        # a fresh identical run). One retry, scheduled after the pool
        # drains, is exactly what a cluster does; a SYSTEMATIC OOM still
        # fails the run on attempt 2 — not masked, just de-flaked.
        .master(f"local[{cpus},2]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # the catalog compiles dozens of large generated methods
        # (whole-stage codegen spans, signature folds, literal
        # matrices); the JVM default 240m code cache fills mid-run and
        # silently stops JIT compilation — measured as whole query
        # families going 3-4x slower in some runs. Local mode: one JVM,
        # so the driver option covers executors too.
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=512m")
        # UI off by default (bench hygiene); SPARK_GRAFT_UI=1 turns it
        # on so diagnostic tools (tools/spill_probe.py) can read
        # per-stage task metrics from the /api/v1 REST endpoint —
        # the local-mode equivalent of a cluster's history server.
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false",
        )
        .config("spark.ui.port", os.environ.get("SPARK_GRAFT_UI_PORT", "4050"))
        # shuffle/spill codec. Default = Spark's lz4. zstd trades ~20%
        # more shuffle CPU for ~1.6x denser scratch — the knob that let
        # the q111 sf100 probe fit the container disk (33 GB scratch vs
        # a >73 GB lz4 overflow, BASELINE.md Round 10); a disk-tight
        # cluster deployment makes the same trade.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_CODEC", "lz4"),
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    # Static, so it is set here and not in RUNTIME_CONFS (configure()
    # would warn CANNOT_MODIFY_CONFIG on a running session). With it on,
    # every pyspark.sql.functions call captures its Python call site:
    # it walks the stack, retries ``import IPython`` and makes about 5
    # py4j round trips, so F.col costs 3.1 ms instead of 0.36 ms and the
    # CSV loader spends ~150 ms per file composing expressions. The
    # trade: an analysis error keeps its condition and message but its
    # DataFrame context no longer names the Python file:line.
    builder = builder.config("spark.python.sql.dataFrameDebugging.enabled", "false")
    return configure(builder.getOrCreate())


def local_frame(spark: SparkSession, rows: list[tuple], schema: str | StructType) -> DataFrame:
    """Driver-held ``rows`` (tuples in ``schema``'s column order) as a
    ``LocalRelation``: the rows ride into the plan inside one Arrow
    table, so scanning them runs no Python worker and no job. A
    tuple-list ``createDataFrame`` is instead a Python-RDD scan
    (``LogicalRDD``) whose tasks each start a Python worker. A
    ``pyarrow.Table`` takes the Arrow path whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema)


def arrow_table(rows: list[tuple], schema: StructType):
    """``rows`` (tuples in ``schema``'s column order) as one
    ``pyarrow.Table`` typed by ``schema``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
