"""Instrumentation for the traced pass, all from outside the package.

- :class:`StatusReader` reads Spark's status store (works with the UI
  off): jobs, stages and SQL executions that appeared since a snapshot.
- :class:`StreamRecorder` is a ``StreamingQueryListener`` keeping every
  trigger's progress.
- :class:`CatalogSpy` wraps the public ``catalog`` entry points
  (``table``, ``table_fresh``, ``events_in_range``) wherever the package
  bound them, and restores them on exit.
"""

from __future__ import annotations

import datetime
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

import helpers

PY_SENT = "data sent to Python workers"
MB = 1024.0 * 1024.0


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusReader:
    """Counters of the jobs, stages and SQL executions a query launched."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._jsc = sc._jsc
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters

    def _jobs(self):
        return self._conv.asJava(self._store.jobsList(self._jvm.java.util.ArrayList()))

    def _stages(self):
        return self._conv.asJava(self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._gateway.new_array(self._jvm.double, 0), self._jvm.java.util.ArrayList()))

    def snapshot(self) -> dict:
        jobs, stages = self._jobs(), self._stages()
        return {
            "job": jobs.get(0).jobId() if jobs.size() else -1,
            "stage": stages.get(0).stageId() if stages.size() else -1,
            "sql": self._sql.executionsCount(),
            "persisted": set(self._jsc.getPersistentRDDs().keys()),
        }

    def delta(self, snap: dict) -> dict:
        """Jobs (with their intervals) and summed stage and SQL metrics
        created after ``snap``; newest-first lists end at the snapshot."""
        out = {k: 0.0 for k in (
            "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s", "shuffle_write_mb",
            "fetch_wait_s", "spill_mb", "input_mb", "output_mb", "python_mb")}
        job_ivs = []
        jobs = self._jobs()
        for i in range(jobs.size()):
            j = jobs.get(i)
            if j.jobId() <= snap["job"]:
                break
            s, e = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            if s is not None:
                job_ivs.append((j.jobId(), s, e if e is not None else time.time()))
        stages = self._stages()
        for i in range(stages.size()):
            st = stages.get(i)
            if st.stageId() <= snap["stage"]:
                break
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["jvm_gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
            out["input_mb"] += st.inputBytes() / MB
            out["output_mb"] += st.outputBytes() / MB
        out["python_mb"] = self._python_bytes(snap["sql"]) / MB
        out["jobs"] = len(job_ivs)
        out["job_intervals"] = job_ivs
        now = set(self._jsc.getPersistentRDDs().keys())
        out["persisted_rdds_left"] = len(now - snap["persisted"])
        return out

    def _python_bytes(self, count_before: int) -> float:
        count = self._sql.executionsCount()
        new = count - count_before
        if new <= 0:
            return 0.0
        total = 0.0
        execs = self._conv.asJava(self._sql.executionsList(max(0, count - new), new))
        for i in range(execs.size()):
            ex = execs.get(i)
            if ex.metricValues() is None:
                continue
            values = {int(k): v for k, v in self._conv.asJava(ex.metricValues()).items()}
            nodes = self._conv.asJava(self._sql.planGraph(ex.executionId()).allNodes())
            for n in range(nodes.size()):
                metrics = self._conv.asJava(nodes.get(n).metrics())
                for m in range(metrics.size()):
                    metric = metrics.get(m)
                    if metric.name() == PY_SENT:
                        total += helpers.parse_size_metric(values.get(metric.accumulatorId(), ""))
        return total


def _iso_s(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class StreamRecorder(StreamingQueryListener):
    """Keeps each trigger's start, durations and state sizes."""

    def __init__(self):
        self._lock = threading.Lock()
        self._progress = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = dict(p.durationMs)
        rec = {
            "run_id": str(p.runId),
            "start": _iso_s(p.timestamp),
            "trigger_s": d.get("triggerExecution", 0) / 1e3,
            "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_mb": sum(s.memoryUsedBytes for s in p.stateOperators) / MB,
        }
        with self._lock:
            self._progress.append(rec)

    def onQueryTerminated(self, event):
        pass

    def drain(self) -> list:
        with self._lock:
            out, self._progress = self._progress, []
        return out


CATALOG_FNS = ("table", "table_fresh", "events_in_range")


class CatalogSpy:
    """Context manager timing every call of the catalog entry points."""

    def __init__(self, on_call):
        self._on_call = on_call
        self._patched = []

    def __enter__(self):
        from satellite_data_ingestion_spark import catalog

        originals = {name: getattr(catalog, name) for name in CATALOG_FNS}
        wrappers = {name: self._wrap(name, fn) for name, fn in originals.items()}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(helpers.PACKAGE):
                continue
            for name, fn in originals.items():
                if getattr(mod, name, None) is fn:
                    setattr(mod, name, wrappers[name])
                    self._patched.append((mod, name, fn))
        return self

    def __exit__(self, *exc):
        for mod, name, fn in reversed(self._patched):
            setattr(mod, name, fn)
        self._patched.clear()
        return False

    def _wrap(self, name, fn):
        on_call = self._on_call

        def wrapper(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                on_call(name, t0, time.time())

        wrapper.__wrapped__ = fn
        return wrapper
