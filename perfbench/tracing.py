"""Spans around the calls into each layer, and the Spark-side numbers
behind them.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, run
id, and the Spark job ids launched while the span was the innermost
one). Job ids come from the DAG scheduler's job counter read at every
span boundary, so nested spans split jobs exactly, with no job groups
set on the caller's behalf. Stage metrics are read afterwards from
Spark's status store, which is populated with the UI off.

With tracing off (and during session set-up), :meth:`Tracer.span` is a
no-op context manager and :func:`wrap_layers` is never called, so
untraced runs time only the package's own calls.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import resource
import time

MIB = 1024 * 1024


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._dag = None

    def attach(self, spark) -> None:
        """Start recording spans on ``spark``'s scheduler; until then
        (session set-up and warm-up) spans are no-ops."""
        if self.enabled:
            self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def _next_job(self) -> int:
        return int(self._dag.numTotalJobs())

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if self._dag is None:
            yield None
            return
        job = self._next_job()
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            parent["_jobs"].extend(range(parent["_mark"], job))
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": parent["id"] if parent is not None else None,
            "id": len(self.spans),
            "start": time.perf_counter(),
            "end": None,
            "_jobs": [],
            "_mark": job,
            "_job0": job,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            job = self._next_job()
            rec["_jobs"].extend(range(rec["_mark"], job))
            rec["_job1"] = job
            self._stack.pop()
            if parent is not None:
                parent["_mark"] = job

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                row = {k: v for k, v in s.items() if not k.startswith("_")}
                row["self_jobs"] = s["_jobs"]
                row["all_jobs"] = s["_job1"] - s["_job0"]
                fh.write(json.dumps(row) + "\n")


def wrap_attr(tracer: Tracer, owner, attr: str, span_name: str) -> None:
    """Replace ``owner.attr`` with a wrapper that opens ``span_name``."""
    fn = getattr(owner, attr)
    if getattr(fn, "__perfbench_span__", None) == span_name:
        return

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    wrapper.__perfbench_span__ = span_name
    setattr(owner, attr, wrapper)


def wrap_layers(tracer: Tracer) -> None:
    """Open a span at every name a caller binds for the traced layers:
    the catalog loaders in every ``plans`` module, and the stages
    ``sources.pipeline`` calls."""
    import importlib
    import pkgutil

    from python_lambda_ecs_container_data_etl_aws_spark import catalog, plans
    from python_lambda_ecs_container_data_etl_aws_spark.sources import (
        archive,
        pipeline,
    )

    owners = [catalog] + [
        importlib.import_module(f"{plans.__name__}.{m.name}")
        for m in pkgutil.iter_modules(plans.__path__)
    ]
    for mod in owners:
        for attr in ("load_table", "load_events"):
            if hasattr(mod, attr):
                wrap_attr(tracer, mod, attr, "catalog.load")
    wrap_attr(tracer, pipeline, "read_csv_canonical", "sources.read_csv")
    wrap_attr(tracer, pipeline, "refresh_report", "sources.refresh_report")
    wrap_attr(tracer, pipeline, "log_ingest", "sources.audit")
    wrap_attr(tracer, archive, "archive_file", "sources.archive")


class SparkStats:
    """Job, stage and task figures from the status store, and JVM
    memory and GC figures."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self.jvm_pid = sc._gateway.proc.pid

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the finished jobs' metrics."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, job_ids) -> dict:
        out = {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "job_s": 0.0,
            "task_run_s": 0.0,
            "task_cpu_s": 0.0,
            "shuffle_write_mib": 0.0,
            "shuffle_read_mib": 0.0,
            "spill_mib": 0.0,
        }
        store = self._jsc.statusStore()
        for jid in job_ids:
            job = store.job(int(jid))
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_s"] += (done.get().getTime() - sub.get().getTime()) / 1000.0
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                st = store.lastStageAttempt(int(stage_ids.apply(i)))
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += int(st.numCompleteTasks())
                out["task_run_s"] += st.executorRunTime() / 1000.0
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_mib"] += st.shuffleWriteBytes() / MIB
                out["shuffle_read_mib"] += st.shuffleReadBytes() / MIB
                out["spill_mib"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MIB
        return out

    def gc_s(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0

    def peak_rss_mib(self) -> float:
        """The Spark JVM's VmHWM plus this process's peak RSS."""
        jvm_kib = 0
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kib = int(line.split()[1])
        py_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kib + py_kib) / 1024.0


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus its children's durations."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    return own
