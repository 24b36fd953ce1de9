"""Instrumentation used by the benchmark, all of it from outside karta_spark.

- ``Spans``: named spans (name, start, end, parent, job) kept in memory and
  written out when the run ends.  Disabled spans cost one context-manager
  entry, so the untraced run carries the same code path.
- ``SparkProbe``: registers a ``QueryExecutionListener`` over py4j, keeps
  every query execution a job runs, and after the job walks the final
  (post-AQE) physical plans for their SQL metrics.  Job and task counts
  and task times come from the status tracker of the job's job group.
- ``MemorySampler``: peak summed proportional set size of every process
  below this one (the driver JVM and its Python workers), read from
  ``/proc``.
- ``Stopwatch``: elapsed time less the share the hypervisor stole from the
  machine's CPUs.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Spans:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []
        self.job: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.records)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "job": self.job}
        self.records.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str, job: int | None = None) -> float:
        """Summed duration in seconds of the spans called *name* (of *job*)."""
        return sum(r["end"] - r["start"] for r in self.records
                   if r["name"] == name and r["end"] is not None
                   and (job is None or r["job"] == job))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for r in self.records:
                f.write(json.dumps(r) + "\n")


# ---------------------------------------------------------------------------
# Spark SQL metrics and status-tracker counts
# ---------------------------------------------------------------------------

class _QueryListener:
    """Java ``QueryExecutionListener`` implemented in Python over py4j."""

    def __init__(self):
        self.executions: list = []
        self.lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):
        with self.lock:
            self.executions.append(qe)

    def onFailure(self, func_name, qe, exception):
        with self.lock:
            self.executions.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _plan_nodes(node, out: list) -> None:
    """Depth-first (class name, {metric: value}, UDF name) of a physical
    plan, looking through AQE wrappers, query stages and reused exchanges.
    The UDF name (the Python function's name) tells MapInPandas nodes of
    different operators apart; it is "" for every other node."""
    cls = node.getClass().getSimpleName()
    metrics = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = kv._2().value()
    udf = node.func().name() if cls == "MapInPandasExec" else ""
    out.append((cls, metrics, udf))
    if cls == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [node.plan()]
    elif cls.startswith("Reused"):
        kids = [node.child()]
    else:
        ch = node.children()
        kids = [ch.apply(i) for i in range(ch.size())]
    for k in kids:
        _plan_nodes(k, out)


class SparkProbe:
    """Per-job Spark counters, read after the job from outside the program."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.sc = spark.sparkContext
        ensure_callback_server_started(self.sc._gateway)
        self.listener = _QueryListener()
        spark._jsparkSession.listenerManager().register(self.listener)
        self.group: str | None = None

    def start(self, job: int) -> None:
        with self.listener.lock:
            self.listener.executions.clear()
        self.group = f"perfbench-job-{job}"
        self.sc.setJobGroup(self.group, self.group)

    def finish(self) -> dict:
        """Plan nodes, job/task counts and the task skew of the heaviest
        stage for the jobs run since ``start``."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        # listener events arrive asynchronously after the action returns
        prev, quiet_since = -1, time.monotonic()
        deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline:
            n = len(self.listener.executions)
            if n != prev:
                prev, quiet_since = n, time.monotonic()
            elif time.monotonic() - quiet_since > 0.3:
                break
            time.sleep(0.05)
        with self.listener.lock:
            qes = list(self.listener.executions)
            self.listener.executions.clear()
        nodes: list = []
        for qe in qes:
            _plan_nodes(qe.executedPlan(), nodes)
        return {"nodes": nodes, **self._job_counts()}

    def _job_counts(self) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        job_ids = tracker.getJobIdsForGroup(self.group)
        tasks, heaviest = 0, []
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks == 0:
                    continue
                tasks += st.numCompletedTasks
                seq = store.taskList(sid, st.currentAttemptId, 100000)
                durs = []
                for i in range(seq.size()):
                    d = seq.apply(i).duration()
                    if d.isDefined():
                        durs.append(float(d.get()))
                if sum(durs) > sum(heaviest):
                    heaviest = durs
        skew = (max(heaviest) / max(statistics.median(heaviest), 1.0)
                if heaviest else 0.0)
        return {"jobs": len(job_ids), "tasks": tasks, "task_skew": skew}


def node_sum(nodes, cls_suffix: str, metric: str, udf: str | None = None) -> float:
    """Sum of *metric* over plan nodes whose class name ends with *cls_suffix*
    (and, if given, whose UDF is called *udf*)."""
    return float(sum(m.get(metric, 0) for c, m, u in nodes
                     if c.endswith(cls_suffix) and udf in (None, u)))


# ---------------------------------------------------------------------------
# time not stolen by the hypervisor
# ---------------------------------------------------------------------------

def _cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over the machine's CPUs."""
    with open("/proc/stat") as f:
        user, nice, system, _, _, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


class Stopwatch:
    """Elapsed wall time scaled by busy / (busy + stolen) CPU ticks over the
    interval.  On a shared virtual machine the hypervisor takes CPU time
    from runnable virtual CPUs (steal); how much swings from minute to
    minute with other tenants' load.  A virtual CPU only accrues steal
    while it has work, so for work running on any number of CPUs this is
    about the time it would have taken with nothing stolen."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.busy0, self.steal0 = _cpu_ticks()

    def seconds(self) -> float:
        wall = time.perf_counter() - self.t0
        busy, steal = _cpu_ticks()
        busy, steal = busy - self.busy0, steal - self.steal0
        return wall * busy / (busy + steal) if busy + steal else wall


# ---------------------------------------------------------------------------
# memory of the Spark process tree
# ---------------------------------------------------------------------------

def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], list(children.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of *root*'s descendants: a page shared
    by n processes (the forked Python workers share their interpreter and
    imports) counts 1/n in each, so the sum counts it once."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class MemorySampler:
    """Samples the summed PSS of this process's descendants until stopped."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
