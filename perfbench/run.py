#!/usr/bin/env python3
"""Benchmark of the ETL and analytics engine, one named workload per run.

    python3 perfbench/run.py --workload catalog_sf0.01 --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The ETL workload makes its inputs
from ``--seed`` (under ``.perfbench_work/``); the catalog reads fixed
tables under ``perfbench/data/``. The run sets up a session five times,
warms the workload up untimed, times a fixed amount of work, checks
every output, stops every process it started, and prints one JSON
object as the last line of stdout. ``--seconds`` is accepted and
ignored: every version is measured on the same work.
``--trace 1`` prints the per-layer figures instead of the end-to-end
ones and writes the spans to ``.perfbench_work/out/``. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import csv
import ctypes
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from decimal import Decimal

import etl_inputs
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "python_lambda_ecs_container_data_etl_aws_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
# Byte copies of the project's seed-42 test tables (see README.md).
DATA = os.path.join(HERE, "data")
SETUP_CYCLES = 5

# One query from each of 8 plans modules, cheap ones, so per-query work
# outside the tasks (composition, schema inference, eager operator jobs,
# planning, job scheduling) dominates; q09 adds the autoid eager path.
# The other modules are left out for the run budget.
CATALOG_QUERIES = (
    "q09_autoid_rownumber",
    "q18_text_quality",
    "q30_sanitize_controlchars",
    "q41_doclen_histogram",
    "q45_split_assign",
    "q61_epoch_mixture",
    "q75_quality_percentile_hist",
    "q127_rag_chunks",
)
CATALOG_PASSES = 2
# name -> (kind, full-size parameters, toy parameters)
WORKLOADS = {
    "catalog_sf0.01": ("catalog", {"tables": "sf0.01"}, {"tables": "sf0.001"}),
    "etl_deltas": (
        "etl",
        {"n_geo": 14, "n_products": 24, "base_months": 12, "revisions": 400, "n_deltas": 5},
        {"n_geo": 3, "n_products": 4, "base_months": 3, "revisions": 4, "n_deltas": 4},
    ),
}
ETL_BUCKETS = 8
# The base extract and the first delta (the one with malformed lines)
# warm the write path up, untimed; the rest of the stream is timed.
ETL_WARM_FILES = 2

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
}
PER_LAYER = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalog.load_s": "s",
    "catalog.load_calls": "count",
    "catalog.load_jobs": "count",
    "operators.eager_jobs": "count",
    "operators.eager_s": "s",
    "catalyst.plan_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.shuffle_write_mib": "MiB",
    "exec.shuffle_read_mib": "MiB",
    "exec.result_rows": "count",
    "jvm.gc_s": "s",
    "jvm.peak_rss_mib": "MiB",
    "sources.read_csv_s": "s",
    "sources.merge_write_s": "s",
    "sources.refresh_report_s": "s",
    "sources.audit_s": "s",
    "sources.archive_s": "s",
    "sources.jobs_per_file": "count",
    "sources.buckets_touched_per_file": "count",
    "sources.write_amp": "ratio",
    "sources.table_files": "count",
    "export.export_s": "s",
    "audit.rollup_s": "s",
    "unattributed_s": "s",
}
# layer metric -> span whose self time it is
SPAN_LAYERS = {
    "catalog.load_s": "catalog.load",
    "catalyst.plan_s": "catalyst.plan",
    "exec.action_s": "exec.action",
    "sources.read_csv_s": "sources.read_csv",
    "sources.merge_write_s": "ingest",
    "sources.refresh_report_s": "sources.refresh_report",
    "sources.audit_s": "sources.audit",
    "sources.archive_s": "sources.archive",
    "export.export_s": "export.export",
    "audit.rollup_s": "audit.rollup",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path.insert(0, ROOT)


# ---------------------------------------------------------------- processes
PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of every process its children leave
    behind (the Python workers the JVM forks), so it can wait for them."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def descendants() -> list[int]:
    """Pids of every live process below this one."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                state, ppid = fh.read().rsplit(")", 1)[1].split()[:2]
        except OSError:
            continue
        if state != "Z":
            children.setdefault(int(ppid), []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


def reap() -> None:
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass


def stop_processes(grace_s: float = 30) -> None:
    """Stop the Spark session and its JVM, then wait until every process
    the run started has ended (killing what is left after ``grace_s``)."""
    ctx = sys.modules.get("pyspark.context")
    proc = None
    if ctx is not None:
        sc = ctx.SparkContext._active_spark_context
        if sc is not None:
            with contextlib.suppress(Exception):
                sc.stop()
        proc = getattr(ctx.SparkContext._gateway, "proc", None)
    if proc is not None:
        # The JVM exits when its stdin closes.
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline + 30:
        reap()
        left = descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


def exit_on_signal(signum, frame) -> None:
    sys.exit(128 + signum)


def fingerprint(path: str) -> str:
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(path, "*"))):
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def host_steal_s() -> float:
    """CPU time the hypervisor has taken from this machine so far, summed
    over its CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- oracle
class Oracle:
    """DuckDB result hashes for one data directory, cached on disk by
    the directory's content and the query's SQL."""

    def __init__(self, data_dir: str) -> None:
        self.data_dir = data_dir
        self.key = fingerprint(data_dir)
        self.path = os.path.join(WORK, "oracle", f"{self.key}.json")
        self.cache = {}
        if os.path.isfile(self.path):
            with open(self.path) as fh:
                self.cache = json.load(fh)
        self._con = None

    def expect(self, name: str, sql: str) -> list:
        """[column list, row count, hash] of the oracle's result."""
        ck = name + ":" + hashlib.sha256(sql.encode()).hexdigest()[:16]
        if ck not in self.cache:
            from python_lambda_ecs_container_data_etl_aws_spark.catalog import TABLE_NAMES
            from python_lambda_ecs_container_data_etl_aws_spark.verify import result_hash

            if self._con is None:
                import duckdb

                self._con = duckdb.connect()
                self._con.execute("SET memory_limit='2GB'")
                self._con.execute("SET threads=2")
                self._con.execute(f"SET temp_directory='{os.path.join(WORK, 'tmp')}'")
                for t in TABLE_NAMES:
                    self._con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'"
                    )
            res = self._con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            self.cache[ck] = [cols, len(rows), result_hash(rows, cols)]
        return self.cache[ck]

    def save(self) -> None:
        if self._con is not None:
            self._con.close()
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(self.path + ".tmp", "w") as fh:
            json.dump(self.cache, fh)
        os.replace(self.path + ".tmp", self.path)


# ---------------------------------------------------------------- session
def setup(set_up) -> tuple:
    """Session start plus ``set_up(spark)``, ``SETUP_CYCLES`` times; the
    first cycle launches the JVM. Returns (session, per-cycle seconds)."""
    from python_lambda_ecs_container_data_etl_aws_spark.session import get_spark

    times = []
    spark = None
    for _ in range(SETUP_CYCLES):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
        set_up(spark)
        times.append(time.perf_counter() - t0)
    return spark, times


# ---------------------------------------------------------------- queries
class QueryWorkload:
    """Catalog queries, each built, planned and collected in turn, in a
    fixed order. One untimed pass warms the JVM up (first compilation of
    every query's code); then ``CATALOG_PASSES`` timed passes."""

    def __init__(self, names, data_dir, tracer):
        self.names = list(names)
        self.data_dir = data_dir
        self.tracer = tracer
        self.stats = None
        self.oracle = Oracle(data_dir)
        self.warm_ops: list[dict] = []
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.extras: dict = {}

    def set_up(self, spark) -> None:
        """A first job: count the rows of a loaded table."""
        from python_lambda_ecs_container_data_etl_aws_spark.catalog import load_table

        load_table(spark, self.data_dir, "orders").count()

    def warm_up(self, spark) -> None:
        self._pass(spark, self.warm_ops)

    def run(self, spark) -> None:
        for _ in range(CATALOG_PASSES):
            self._pass(spark, self.ops)

    def _pass(self, spark, ops: list) -> None:
        from python_lambda_ecs_container_data_etl_aws_spark.plans import ORACLE, QUERIES
        from python_lambda_ecs_container_data_etl_aws_spark.verify import result_hash

        tr = self.tracer
        for name in self.names:
            op = {"op": name, "ok": False}
            try:
                with tr.span("query", op=name):
                    t0 = time.perf_counter()
                    with tr.span("plans.build"):
                        df = QUERIES[name](spark, self.data_dir)
                    if tr.enabled:
                        with tr.span("catalyst.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("exec.action"):
                        rows = df.collect()
                    op["s"] = time.perf_counter() - t0
                cols = list(df.columns)
                op["rows"] = op["collected_rows"] = len(rows)
                want = self.oracle.expect(name, ORACLE[name])
                op["ok"] = (
                    want[0] == cols
                    and want[1] == len(rows)
                    and want[2] == result_hash(rows, cols)
                )
                del rows
            except Exception as e:  # counted as a failed operation
                op["error"] = repr(e)[:500]
            if not op["ok"]:
                self.failures.append(f"{name}: {op.get('error', 'result mismatch')}")
            ops.append(op)
            if self.stats is not None:
                self.stats.after_op(op)

    def finish(self, spark) -> int:
        self.oracle.save()
        return 0

    def metrics(self) -> float:
        """``wall_s``; the other figures go to ``extras``."""
        lat = sorted(o["s"] for o in self.ops if "s" in o)
        self.extras["query_p50_s"] = median(lat)
        self.extras["query_p75_s"] = (
            statistics.quantiles(lat, n=4)[2] if len(lat) >= 2 else median(lat)
        )
        return sum(lat)


# ---------------------------------------------------------------- ETL
class EtlWorkload:
    """Base extract, then the delta stream; after every file, the
    reporting step (report export and audit rollup)."""

    def __init__(self, params, seed, tracer):
        from python_lambda_ecs_container_data_etl_aws_spark.sources.report import ReportSpec

        self.tracer = tracer
        self.stats = None
        self.spec = ReportSpec(
            group_keys=("Date", "GEO"),
            sums=(("value_sum", "CAST(VALUE AS DECIMAL(18,4))"),),
        )
        tag = "-".join(f"{k}{v}" for k, v in sorted(params.items()))
        self.root = os.path.join(WORK, "etl", f"{tag}-seed{seed}")
        shutil.rmtree(self.root, ignore_errors=True)
        self.stream = etl_inputs.PriceIndexStream(
            os.path.join(self.root, "inputs"), seed, **params
        ).generate()
        # Set-up cycles read a tiny extract.
        self.tiny = etl_inputs.PriceIndexStream(
            os.path.join(self.root, "tiny_inputs"),
            seed + 1,
            n_geo=2,
            n_products=3,
            base_months=2,
            revisions=2,
            n_deltas=0,
        ).generate().files[0].path
        self.warm_ops: list[dict] = []
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.extras: dict = {}

    def _dirs(self, tag: str) -> dict:
        d = os.path.join(self.root, tag)
        shutil.rmtree(d, ignore_errors=True)
        out = {k: os.path.join(d, k) for k in ("landing", "wh", "backup", "log", "export")}
        os.makedirs(out["landing"])
        return out

    def _ingest(self, spark, path: str, dirs: dict):
        from python_lambda_ecs_container_data_etl_aws_spark.sources.pipeline import ingest_file

        return ingest_file(
            spark,
            path,
            dirs["wh"],
            backup_dir=dirs["backup"],
            keys=list(etl_inputs.KEYS),
            maxerrors=etl_inputs.MAXERRORS,
            n_buckets=ETL_BUCKETS,
            log_dir=dirs["log"],
            report_spec=self.spec,
        )

    def _report_step(self, spark, dirs: dict):
        from python_lambda_ecs_container_data_etl_aws_spark.export import export_report_csv
        from python_lambda_ecs_container_data_etl_aws_spark.sources.audit import (
            load_ingest_log,
            status_rollup,
        )
        from python_lambda_ecs_container_data_etl_aws_spark.sources.report import read_report

        tr = self.tracer
        with tr.span("export.export"):
            part = export_report_csv(
                read_report(spark, os.path.join(dirs["wh"], "priceindex__report")),
                dirs["export"],
            )
        with tr.span("audit.rollup"):
            rollup = status_rollup(load_ingest_log(spark, dirs["log"])).collect()
        return part, rollup

    def set_up(self, spark) -> None:
        """A first job: count the rows of a tiny extract."""
        spark.read.option("header", True).csv(self.tiny).count()

    def warm_up(self, spark) -> None:
        """The first ``ETL_WARM_FILES`` files of the stream, untimed, so
        JIT and code generation for the bulk load and the upsert path
        happen before the timed files."""
        self.dirs = self._dirs("run")
        for f in self.stream.files[:ETL_WARM_FILES]:
            self._file(spark, f, self.warm_ops)

    def run(self, spark) -> None:
        for f in self.stream.files[ETL_WARM_FILES:]:
            self._file(spark, f, self.ops)

    def _file(self, spark, f, ops: list) -> None:
        """Ingest one stream file, then the reporting step."""
        tr = self.tracer
        dirs = self.dirs
        table_dir = os.path.join(dirs["wh"], "priceindex")
        path = shutil.copy(f.path, dirs["landing"])
        op = {"op": os.path.basename(f.path), "kind": f.kind, "ok": False}
        before = self.stats.files_under(table_dir) if tr.enabled and self.stats else None
        try:
            with tr.span("ingest", op=op["op"]) as sp:
                t0 = time.perf_counter()
                rep = self._ingest(spark, path, dirs)
                op["s"] = time.perf_counter() - t0
            with tr.span("report", op=op["op"]):
                t0 = time.perf_counter()
                self.last_export, self.last_rollup = self._report_step(spark, dirs)
                op["report_s"] = time.perf_counter() - t0
            op["collected_rows"] = len(self.last_rollup)
            op["status"] = rep.status
            op["rows"] = rep.loaded_rows
            op["buckets_touched"] = rep.extras.get("buckets_touched", 0)
            op["ok"] = rep.status == f.status and rep.bad_rows == f.bad_rows
            if f.status == "ok":
                op["ok"] = op["ok"] and rep.loaded_rows == f.rows
            if before is not None:
                op["csv_bytes"] = os.path.getsize(f.path)
                op["new_bytes"] = self.stats.new_bytes(before, table_dir)
                op["jobs"] = sp["_job1"] - sp["_job0"]
        except Exception as e:  # counted as a failed operation
            op["error"] = repr(e)[:500]
        if not op["ok"]:
            self.failures.append(f"{op['op']}: {op.get('error', op.get('status'))}")
        ops.append(op)
        if self.stats is not None:
            self.stats.after_op(op)

    def finish(self, spark) -> int:
        """Final-state checks; returns the number of checks made."""
        from python_lambda_ecs_container_data_etl_aws_spark.sources.audit import load_ingest_log
        from python_lambda_ecs_container_data_etl_aws_spark.sources.pipeline import read_permanent
        from python_lambda_ecs_container_data_etl_aws_spark.sources.report import read_report

        dirs = self.dirs
        table, report = self.stream.expected_after(len(self.stream.files))
        statuses = sorted((os.path.basename(f.path), f.status) for f in self.stream.files)
        counts: dict = {}
        for f in self.stream.files:
            counts[f.status] = counts.get(f.status, 0) + 1

        def table_ok():
            got = read_permanent(spark, dirs["wh"], "priceindex").collect()
            want = sorted(tuple(v if v != "" else None for v in r) for r in table.values())
            return sorted(tuple(r) for r in got) == want

        def report_ok():
            rdir = os.path.join(dirs["wh"], "priceindex__report")
            got = {
                (r["Date"], r["GEO"]): (r["n_rows"], r["value_sum"])
                for r in read_report(spark, rdir).collect()
            }
            return got == report

        def export_ok():
            with open(self.last_export, newline="") as fh:
                got = {
                    (r["Date"], r["GEO"]): (int(r["n_rows"]), Decimal(r["value_sum"]))
                    for r in csv.DictReader(fh)
                }
            return got == report

        def audit_ok():
            rows = load_ingest_log(spark, dirs["log"]).collect()
            return sorted((r["file"], r["status"]) for r in rows) == statuses

        def rollup_ok():
            return {r["status"]: r["n_loads"] for r in self.last_rollup} == counts

        checks = (table_ok, report_ok, export_ok, audit_ok, rollup_ok)
        for check in checks:
            try:
                ok = check()
            except Exception as e:  # counted as a failed check
                ok = False
                self.failures.append(f"{check.__name__}: {e!r}"[:500])
                continue
            if not ok:
                self.failures.append(f"{check.__name__}: final state differs")
        table_dir = os.path.join(dirs["wh"], "priceindex")
        self.extras["table_files"] = sum(
            len([f for f in fs if f.endswith(".parquet")])
            for d in (table_dir, dirs["log"])
            for _, _, fs in os.walk(d)
        )
        return len(checks)

    def metrics(self) -> float:
        """``wall_s``; the other figures go to ``extras``."""
        kinds = {os.path.basename(f.path): f for f in self.stream.files}
        base = [o["s"] for o in self.warm_ops if o["kind"] == "base" and "s" in o]
        self.extras["bulk_load_s"] = base[0] if base else 0.0
        deltas = [o for o in self.ops if o["kind"] in ("delta", "malformed") and "s" in o]
        dsum = sum(o["s"] for o in deltas)
        self.extras["ingest_rows_per_s"] = (
            sum(kinds[o["op"]].rows for o in deltas) / dsum if dsum else 0.0
        )
        self.extras["ingest_p50_s"] = median([o["s"] for o in deltas])
        self.extras["report_p50_s"] = median([o["report_s"] for o in self.ops if "report_s" in o])
        return sum(o.get("s", 0.0) + o.get("report_s", 0.0) for o in self.ops)


# ---------------------------------------------------------------- layers
class Stats:
    """Per-operation Spark and GC figures, taken between operations."""

    def __init__(self, spark, tracer) -> None:
        self.tracer = tracer
        self.spark_stats = tracing.SparkStats(spark)
        self._gc = self.spark_stats.gc_s() if tracer.enabled else 0.0

    def after_op(self, op: dict) -> None:
        if not self.tracer.enabled:
            return
        self.spark_stats.drain()
        for s in self.tracer.spans:
            if "_stats" not in s and s["end"] is not None:
                s["_stats"] = self.spark_stats.jobs(s["_jobs"])
        gc = self.spark_stats.gc_s()
        op["gc_s"] = gc - self._gc
        self._gc = gc

    @staticmethod
    def files_under(path: str) -> dict:
        out = {}
        for d, _, fs in os.walk(path):
            for f in fs:
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
        return out

    def new_bytes(self, before: dict, path: str) -> int:
        return sum(v for p, v in self.files_under(path).items() if p not in before)


def layer_metrics(tracer, wl) -> tuple[dict, float]:
    """Per-layer figures, and the traced wall time they add up to."""
    spans = tracer.spans
    own = tracing.self_times(spans)
    by_id = {s["id"]: s for s in spans}
    out = {k: 0.0 for k in PER_LAYER}
    for metric, name in SPAN_LAYERS.items():
        out[metric] = sum(own[s["id"]] for s in spans if s["name"] == name)
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
              "shuffle_write_mib", "shuffle_read_mib"):
        out[f"exec.{k}"] = sum(s["_stats"][k] for s in spans)
    loads = [s for s in spans if s["name"] == "catalog.load"]
    out["catalog.load_calls"] = sum(
        1 for s in loads if by_id.get(s["parent"], {}).get("name") != "catalog.load"
    )
    out["catalog.load_jobs"] = sum(s["_stats"]["jobs"] for s in loads)
    builds = [s for s in spans if s["name"] == "plans.build"]
    build_own = sum(own[s["id"]] for s in builds)
    out["operators.eager_jobs"] = sum(s["_stats"]["jobs"] for s in builds)
    out["operators.eager_s"] = min(sum(s["_stats"]["job_s"] for s in builds), build_own)
    out["plans.build_s"] = build_own - out["operators.eager_s"]
    out["plans.build_jobs"] = out["operators.eager_jobs"] + out["catalog.load_jobs"]
    ops = wl.ops
    out["exec.result_rows"] = sum(o.get("collected_rows", 0) for o in ops)
    out["jvm.gc_s"] = sum(o.get("gc_s", 0.0) for o in ops)
    deltas = [o for o in ops if o.get("kind") in ("delta", "malformed") and "jobs" in o]
    if deltas:
        out["sources.jobs_per_file"] = median([o["jobs"] for o in deltas])
        out["sources.buckets_touched_per_file"] = median([o["buckets_touched"] for o in deltas])
        out["sources.write_amp"] = sum(o["new_bytes"] for o in deltas) / sum(
            o["csv_bytes"] for o in deltas
        )
        out["sources.table_files"] = wl.extras["table_files"]
    wall = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
    attributed = sum(out[k] for k in [*SPAN_LAYERS, "plans.build_s", "operators.eager_s"])
    out["unattributed_s"] = wall - attributed
    return out, wall


# ---------------------------------------------------------------- main
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="tiny inputs, for the smoke test")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        log(f"package {PKG}/ not found next to perfbench/; run from a full checkout")
        return 2
    prepare_env()
    adopt_orphans()
    signal.signal(signal.SIGTERM, exit_on_signal)
    try:
        return run(args)
    finally:
        stop_processes()


def run(args) -> int:
    kind, params, toy = WORKLOADS[args.workload]
    params = toy if args.toy else params

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    tracer = tracing.Tracer(run_id, bool(args.trace))
    if kind == "etl":
        wl = EtlWorkload(params, args.seed, tracer)
    else:
        data_dir = os.path.join(DATA, params["tables"])
        wl = QueryWorkload(CATALOG_QUERIES, data_dir, tracer)

    spark, setup_times = setup(wl.set_up)
    log(f"setup cycles: {[round(t, 3) for t in setup_times]}")
    t0 = time.perf_counter()
    wl.warm_up(spark)
    wl.extras["warm_s"] = time.perf_counter() - t0
    tracer.attach(spark)
    wl.stats = stats = Stats(spark, tracer)
    if tracer.enabled:
        tracing.wrap_layers(tracer)

    steal0 = host_steal_s()
    t_start = time.perf_counter()
    wl.run(spark)
    measured = time.perf_counter() - t_start
    wl.extras["host_steal_s"] = host_steal_s() - steal0
    n_checks = wl.finish(spark)
    wall_s = wl.metrics()
    wl.extras["peak_rss_mib"] = stats.spark_stats.peak_rss_mib()
    end_to_end = {"setup_s": median(setup_times), "wall_s": wall_s}
    attempted = len(wl.warm_ops) + len(wl.ops) + n_checks
    layers = traced_wall = None
    if tracer.enabled:
        layers, traced_wall = layer_metrics(tracer, wl)
        layers["jvm.peak_rss_mib"] = wl.extras["peak_rss_mib"]
        tracer.dump(os.path.join(WORK, "out", f"{run_id}.spans.jsonl"))
        if kind == "catalog":
            attempted += 1
            if layers["catalog.load_calls"] == 0:
                wl.failures.append("traced run recorded no catalog.load calls")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": end_to_end[k], "unit": u} for k, u in END_TO_END.items()}
    failed = len(wl.failures)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "measured_s": measured,
        "setup_cycles_s": setup_times,
        "end_to_end": end_to_end,
        "extras": wl.extras,
        "layers": layers,
        "layers_wall_s": traced_wall,
        "error_rate": failed / attempted,
        "failures": wl.failures,
        "warm_ops": wl.warm_ops,
        "ops": wl.ops,
    }
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    with open(os.path.join(WORK, "out", f"{run_id}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    spark.stop()
    if kind == "etl":
        shutil.rmtree(wl.root, ignore_errors=True)
    for f in wl.failures:
        log(f"FAILED {f}")
    log(
        f"{args.workload}: attempted={attempted} failed={failed} "
        + " ".join(f"{k}={v:.4g}" for k, v in {**end_to_end, **wl.extras}.items())
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
