"""Tracing for the benchmark's traced run, plus process-tree memory sampling.

Spans are recorded from the benchmark's own code around each call into an
engine layer (session start, pipeline stage ``execute``, query build,
``executedPlan``, the action). After each operation the tracer reads Spark's
status stores for the jobs, stages and SQL executions that operation caused:

* jobs are the id range ``[nextJobId before, nextJobId after)`` of the
  DAG scheduler. The benchmark runs one operation at a time, so the range is
  exactly the operation's jobs, including jobs a streaming query fires from
  its own thread (those do not inherit the caller's job group);
* stages are every stage of those jobs that ran (skipped stages excluded).
  The engine's session keeps only 100 stage rows, fewer than one iterative
  query fires, so the traced run raises the status-store retention
  (``TRACE_CONF``) and reads the store right after each operation. That
  config is part of the tracing overhead;
* SQL metrics (Arrow Python worker time and bytes, written bytes and files)
  come from the SQL status store's executions started during the operation.

Spans stay in memory; the caller writes them out when the run ends.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

from stats import interval_union

TRACE_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}

# SQL metric display names -> per-layer metric name
SQL_METRICS = {
    "time to run Python workers": "spark.python.total_s",
    "time to initialize Python workers": "spark.python.init_s",
    "time to start Python workers": "spark.python.boot_s",
    "data sent to Python workers": "spark.python.bytes_sent",
    "data returned from Python workers": "spark.python.bytes_received",
    "written output": "spark.write.bytes",
    "number of written files": "spark.write.files",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*),(\d+),(\w+)\)")
_VALUE = re.compile(r"^\s*([\d.,]+)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Value of one formatted SQL metric: ``'20,000'``, ``'435.3 KiB'``, or a
    task-aggregated ``'total (min, med, max ...)\\n5.3 s (1.3 s, ...)'``;
    times in seconds, sizes in bytes."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def descendants(root_pid: int) -> list[int]:
    """Pids of every live descendant of ``root_pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants, as the sum of
    their proportional set sizes: a page shared by several processes (a
    forked Python worker and its daemon, a JVM child between fork and exec)
    counts once in total rather than once per process."""
    total = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


def stop_jvm(timeout_s: float = 60.0) -> None:
    """End the session's JVM and wait until no child process is left. The
    gateway JVM exits when its stdin closes; Python workers follow it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=timeout_s)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


class RssSampler:
    """Tracks the peak of ``tree_rss_bytes`` on a daemon thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak


class Tracer:
    """Span recorder; does nothing while ``active`` is false."""

    def __init__(self):
        self.active = False
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[dict] = []
        self._op: dict | None = None
        self._spark = None

    def bind(self, spark):
        """Attach to the session whose stores later operations read."""
        self._spark = spark
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _next_job(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self._op["id"] if self._op else None,
            **attrs,
        }
        if self._spark is not None:
            rec["job_start"] = self._next_job()
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._spark is not None:
                rec["job_end"] = self._next_job()

    @contextmanager
    def operation(self, pass_no: int, name: str):
        """One timed operation; on exit its status-store counters are read
        into ``self.ops``."""
        if not self.active:
            yield None
            return
        op = {"id": len(self.ops), "pass": pass_no, "op": name}
        self._op = op
        exec_start = int(self._sql.executionsCount())
        wall_start_ms = time.time() * 1000.0
        with self.span("operation", label=name) as rec:
            yield op
        self._op = None
        op["wall_s"] = rec["end"] - rec["start"]
        self._jsc.listenerBus().waitUntilEmpty(60_000)
        op.update(self._exec_counters(rec["job_start"], rec["job_end"], wall_start_ms, op["wall_s"]))
        op.update(self._sql_counters(exec_start))
        op.update(self._cache_gauges())
        for s in self.spans[rec["id"] + 1:]:
            key = s["name"]
            op[key + "_s"] = op.get(key + "_s", 0.0) + s["end"] - s["start"]
            if key == "plans.build":
                op["plans.build_jobs"] = op.get("plans.build_jobs", 0) + s["job_end"] - s["job_start"]
        self.ops.append(op)

    def _exec_counters(self, job_start: int, job_end: int, wall_start_ms: float, wall_s: float) -> dict:
        tracker = self._sc.statusTracker()
        stage_ids: set[int] = set()
        for job in range(job_start, job_end):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(
            ["stages", "tasks", "run_s", "cpu_s", "gc_s",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"], 0)
        intervals = []
        for sid in sorted(stage_ids):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage never reached the store
                continue
            if sd.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["run_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            sub, comp = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
        busy = interval_union(
            [(max(a, wall_start_ms / 1e3), b) for a, b in intervals]
        )
        out = {"spark.exec." + k: v for k, v in out.items()}
        out["spark.exec.jobs"] = job_end - job_start
        out["spark.exec.idle_s"] = max(0.0, wall_s - busy)
        out["spark.exec.wall_s"] = wall_s
        return out

    def _sql_counters(self, exec_start: int) -> dict:
        out = dict.fromkeys(SQL_METRICS.values(), 0.0)
        count = int(self._sql.executionsCount())
        if count <= exec_start:
            return out
        execs = self._sql.executionsList(exec_start, count - exec_start)
        for i in range(execs.size()):
            ex = execs.apply(i)
            wanted = {}
            for name, acc_id, _kind in _PLAN_METRIC.findall(ex.metrics().mkString("\n")):
                if name in SQL_METRICS:
                    wanted[acc_id] = SQL_METRICS[name]
            if not wanted:
                continue
            values = self._sql.executionMetrics(ex.executionId()).mkString("\x01")
            for item in values.split("\x01"):
                acc_id, _, text = item.partition(" -> ")
                if acc_id in wanted:
                    out[wanted[acc_id]] += parse_sql_metric(text)
        return out

    def _cache_gauges(self) -> dict:
        from arc_maskdata_pipeline_plugin_spark import cache

        execs = self._store.executorList(True)
        storage = blocks = 0
        for i in range(execs.size()):
            e = execs.apply(i)
            storage += e.memoryUsed() + e.diskUsed()
            blocks += e.rddBlocks()
        return {
            "cache.storage_bytes": storage,
            "cache.rdd_blocks": blocks,
            "cache.persisted": len(cache._PERSISTED),
        }
