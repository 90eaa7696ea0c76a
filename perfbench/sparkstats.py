"""Spark-side numbers read from outside the engine: the status store (per
job group stage metrics), executed-plan SQL metrics and Catalyst phase
times from each QueryExecution, and process peak RSS."""

from __future__ import annotations

import os
import re
from typing import Dict, List, Tuple

# executed-plan node names
_NESTED_LOOP = ("BroadcastNestedLoopJoin", "CartesianProduct")
# one entry of SparkPlan.metrics().toString():
#   numOutputRows -> SQLMetric(id: 7, name: Some(number of output rows), value: 25)
_METRIC_RE = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")


class QueryCapture:
    """A QueryExecutionListener implemented over the py4j callback server:
    every action the session runs hands its QueryExecution back here, so
    the plan metrics and planning phases of the *executed* query (the noop
    write, an engine side job, a DML stage write) can be read."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.sc = spark.sparkContext
        ensure_callback_server_started(self.sc._gateway)
        self.got: List = []
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._types: Dict[str, str] = {}     # metric name -> metric type
        spark._jsparkSession.listenerManager().register(self)

    # -- QueryExecutionListener -------------------------------------------
    def onSuccess(self, func, qe, duration_ns):  # noqa: N802 (Java name)
        self.got.append(qe)

    def onFailure(self, func, qe, exc):  # noqa: N802
        self.got.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    # -- reading ----------------------------------------------------------
    def drain(self) -> List:
        """QueryExecutions finished since the last drain (waits for the
        listener bus to deliver them)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        out, self.got = self.got, []
        return out

    def phases(self, qe) -> Dict[str, float]:
        ph = self._conv.asJava(qe.tracker().phases())
        return {k: float(ph.get(k).durationMs()) for k in ph.keySet()}

    def nodes(self, qe) -> List[Tuple[str, Dict[str, int], int]]:
        """(node name, metric values, depth) of the executed plan, pre-order,
        descending into adaptive plans, query stages and subqueries.
        Nanosecond timings are converted to milliseconds."""
        out: List[Tuple[str, Dict[str, int], int]] = []

        def walk(p, depth):
            name = p.nodeName()
            jm = p.metrics()
            vals = {}
            for key, value in _METRIC_RE.findall(jm.toString()):
                kind = self._types.get(key)
                if kind is None:
                    kind = self._types[key] = jm.apply(key).metricType()
                v = int(value)
                vals[key] = v // 1_000_000 if kind == "nsTiming" else v
            out.append((name, vals, depth))
            for c in self._conv.asJava(p.children()):
                walk(c, depth + 1)
            if name == "AdaptiveSparkPlan":
                walk(p.executedPlan(), depth + 1)
            elif name.endswith("QueryStage"):
                walk(p.plan(), depth + 1)
            for s in self._conv.asJava(p.subqueries()):
                walk(s, depth + 1)

        walk(qe.executedPlan(), 0)
        return out


def plan_summary(capture: QueryCapture, qes: List) -> Dict[str, float]:
    """Sum the SQL metrics of the given executed queries into the counters
    the per-layer metrics are built from."""
    c: Dict[str, float] = {
        "queries": 0, "analysis_ms": 0.0, "optimization_ms": 0.0,
        "planning_ms": 0.0, "files_read": 0, "scan_rows": 0, "scan_ms": 0,
        "python_rows": 0, "python_ms": 0, "python_boot_ms": 0,
        "python_bytes_sent": 0, "nested_loop_joins": 0, "joins": 0,
        "join_rows": 0, "refined_rows": 0, "result_rows": 0,
        "failed_queries": 0}
    from pyspark.errors import PySparkException

    for qe in qes:
        c["queries"] += 1
        try:
            nodes = capture.nodes(qe)
        except PySparkException:
            # a query the engine tried and abandoned (it failed analysis);
            # it has no executed plan to read
            c["failed_queries"] += 1
            continue
        ph = capture.phases(qe)
        c["analysis_ms"] += ph.get("analysis", 0.0)
        c["optimization_ms"] += ph.get("optimization", 0.0)
        c["planning_ms"] += ph.get("planning", 0.0)
        result_rows = None
        for i, (name, m, depth) in enumerate(nodes):
            if result_rows is None and "numOutputRows" in m:
                result_rows = m["numOutputRows"]
            if name.startswith("Scan") or name.startswith("FileScan") \
                    or name.startswith("BatchScan"):
                c["files_read"] += m.get("numFiles", 0)
                c["scan_rows"] += m.get("numOutputRows", 0)
                c["scan_ms"] += m.get("scanTime", 0)
            if "pythonTotalTime" in m or "pythonDataSent" in m:
                c["python_rows"] += m.get("pythonNumRowsReceived", 0)
                c["python_ms"] += m.get("pythonTotalTime", 0)
                c["python_boot_ms"] += (m.get("pythonBootTime", 0)
                                        + m.get("pythonInitTime", 0))
                c["python_bytes_sent"] += m.get("pythonDataSent", 0)
            if name.startswith(_NESTED_LOOP):
                c["nested_loop_joins"] += 1
            if "Join" in name or name.startswith("CartesianProduct"):
                c["joins"] += 1
                rows = m.get("numOutputRows", 0)
                c["join_rows"] += rows
                # the refine step is the nearest Filter above the join
                refined = rows
                for pname, pm, pdepth in reversed(nodes[:i]):
                    if pdepth < depth and pname == "Filter":
                        refined = pm.get("numOutputRows", rows)
                        break
                    if pdepth < depth and "numOutputRows" in pm:
                        break
                c["refined_rows"] += refined
        c["result_rows"] += result_rows or 0
    return c


def job_stats(spark, group: str) -> Dict[str, float]:
    """Stage metrics of every job run under ``group``, from the status
    store (works with the UI off)."""
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark.sparkContext._jsc.sc().statusStore()
    c: Dict[str, float] = {
        "jobs": 0, "tasks": 0, "executor_run_ms": 0, "executor_cpu_ms": 0.0,
        "jvm_gc_ms": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
        "shuffle_fetch_wait_ms": 0, "spill_bytes": 0, "job_wall_ms": 0.0}
    spans = []
    for jid in spark.sparkContext.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        c["jobs"] += 1
        sub, done = job.submissionTime(), job.completionTime()
        if not sub.isEmpty() and not done.isEmpty():
            spans.append((sub.get().getTime(), done.get().getTime()))
        for sid in conv.asJava(job.stageIds()):
            for st in conv.asJava(store.stageData(sid, False, None, False,
                                                  None)):
                c["tasks"] += st.numCompleteTasks()
                c["executor_run_ms"] += st.executorRunTime()
                c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                c["jvm_gc_ms"] += st.jvmGcTime()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_fetch_wait_ms"] += st.shuffleFetchWaitTime()
                c["spill_bytes"] += (st.memoryBytesSpilled()
                                     + st.diskBytesSpilled())
    # wall covered by the jobs (union of their intervals)
    total, cur = 0.0, None
    for s, e in sorted(spans):
        if cur is None or s > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    if cur is not None:
        total += cur[1] - cur[0]
    c["job_wall_ms"] = total
    return c


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def descendants(pid: int) -> List[int]:
    """Every live process below ``pid`` (from the parent links in
    /proc/<pid>/stat)."""
    children: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # the command name may hold spaces; fields resume after ")"
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, frontier = [], [pid]
    while frontier:
        kids = children.get(frontier.pop(), [])
        out.extend(kids)
        frontier.extend(kids)
    return out


def jvm_pids(spark) -> List[int]:
    """The driver JVM: the gateway's launcher process and any java
    process below it."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return []
    pids = [proc.pid]
    for k in descendants(proc.pid):
        try:
            with open(f"/proc/{k}/comm") as fh:
                if fh.read().strip() == "java":
                    pids.append(k)
        except OSError:
            pass
    return pids


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python driver plus that of the JVM."""
    total = vm_hwm_mb(os.getpid())
    for pid in jvm_pids(spark):
        total += vm_hwm_mb(pid)
    return total
