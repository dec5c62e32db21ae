"""The engine as the benchmark sees it: a cold start through its public
entry points, and read-only probes of the JVM it runs on.

``Engine.start()`` is one set-up cycle: it drops every engine module from
the interpreter, creates a new Spark context and session through
``session.get_spark()`` (launching the JVM if none is up) and loads the
query registry through ``__spark_entry__.queries()``. ``stop()`` ends the
session, and unless asked to keep the JVM, shuts it down and waits for it
and its Python workers to exit.
"""

from __future__ import annotations

import importlib
import sys
import time

from telemetry import process_tree

ENGINE_PKG = "automated_dow30_earnings_reports_spark"


def _purge_engine_modules() -> None:
    for name in list(sys.modules):
        if name == ENGINE_PKG or name.startswith(ENGINE_PKG + ".") or name == "__spark_entry__":
            del sys.modules[name]


class Engine:
    def __init__(self, spark, queries: dict, session_s: float, registry_s: float):
        self.spark = spark
        self.queries = queries
        self.session_s = session_s
        self.registry_s = registry_s
        self.jvm = spark.sparkContext._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self.last_job = -1
        self.stopped = False

    @classmethod
    def start(cls) -> "Engine":
        _purge_engine_modules()
        t0 = time.perf_counter()
        session = importlib.import_module(f"{ENGINE_PKG}.session")
        spark = session.get_spark()
        t1 = time.perf_counter()
        entry = importlib.import_module("__spark_entry__")
        queries = entry.queries()
        t2 = time.perf_counter()
        return cls(spark, queries, t1 - t0, t2 - t1)

    def stop(self, keep_jvm: bool = False, timeout_s: float = 60.0) -> None:
        """Stop the session; unless ``keep_jvm``, also shut the JVM down
        and wait for it and its Python workers to exit."""
        from pyspark import SparkContext

        if self.stopped:
            return
        self.stopped = True
        self.spark.stop()
        gateway = SparkContext._gateway
        if keep_jvm or gateway is None:
            return
        tree = process_tree(gateway.proc.pid)
        gateway.shutdown()
        if gateway.proc.stdin is not None:
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None
        _wait_gone(tree, timeout_s)

    def module(self, name: str):
        return importlib.import_module(f"{ENGINE_PKG}.{name}")

    def gc_seconds(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0

    def sync_jobs(self) -> None:
        """Skip every job run so far (called before the measured ops).
        No job sets a job group, so the group-less list holds them all."""
        self._bus.waitUntilEmpty()
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        self.last_job = max([self.last_job, *ids])

    def _job(self, job_id: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self._store.job(job_id)
        except Py4JJavaError:
            return None

    def jobs_since_last(self) -> list[dict]:
        """Jobs started since the previous call: id, wall interval (epoch
        ms), stages run and tasks completed. Read after every op, because
        the status store keeps only the newest 1000 jobs."""
        self._bus.waitUntilEmpty()
        out = []
        while True:
            job = self._job(self.last_job + 1)
            if job is None:
                return out
            self.last_job += 1
            sub, end = job.submissionTime(), job.completionTime()
            out.append({
                "id": self.last_job,
                "start_ms": sub.get().getTime() if sub.isDefined() else None,
                "end_ms": end.get().getTime() if end.isDefined() else None,
                "stages": job.stageIds().size() - job.numSkippedStages(),
                "tasks": job.numCompletedTasks(),
            })


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis / optimization / planning durations the frame's own
    QueryExecution tracker recorded (the final frame of an op only)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def _wait_gone(pids: list[int], timeout_s: float) -> None:
    import os
    import signal

    deadline = time.monotonic() + timeout_s
    live = list(pids)
    while live and time.monotonic() < deadline:
        live = [p for p in live if os.path.exists(f"/proc/{p}") and not _is_zombie(p)]
        if live:
            time.sleep(0.05)
    for pid in live:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
