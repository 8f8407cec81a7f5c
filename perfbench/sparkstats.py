"""Spark-side measurement: SQL metrics of executed plans, process memory,
and process cleanup.

Plan metrics are read from a DataFrame's AQE final plan after its action
ran (``AdaptiveSparkPlanExec.executedPlan``), walking into query stages; a
reused exchange is counted where it ran, not again where it is reused.
"""

from __future__ import annotations

import os
import signal
import time
from collections import Counter

# plan metrics this benchmark reports, keyed by our metric name:
# (operator class, SQL metric, scale to the reported unit)
_METRICS = {
    "spark.scan.bytes": ("FileSourceScanExec", "filesSize", 1),
    "spark.scan.time_s": ("FileSourceScanExec", "scanTime", 1e-3),
    "spark.exchange.shuffle_bytes": ("ShuffleExchangeExec", "shuffleBytesWritten", 1),
    "spark.arrow.sent_bytes": ("ArrowEvalPythonExec", "pythonDataSent", 1),
    "spark.arrow.received_bytes": ("ArrowEvalPythonExec", "pythonDataReceived", 1),
    "spark.arrow.rows": ("ArrowEvalPythonExec", "pythonNumRowsReceived", 1),
    "spark.arrow.python_boot_s": ("ArrowEvalPythonExec", "pythonBootTime", 1e-3),
    "spark.arrow.python_init_s": ("ArrowEvalPythonExec", "pythonInitTime", 1e-3),
    "spark.arrow.python_total_s": ("ArrowEvalPythonExec", "pythonTotalTime", 1e-3),
}
PLAN_METRICS = sorted(_METRICS) + ["spark.plan.batched_scans", "spark.plan.exchanges"]


def _metric_map(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def _operators(node):
    """Yield every executed physical operator under ``node``."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _operators(node.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _operators(node.plan())
        return
    if cls == "ReusedExchangeExec":
        return  # its producer is counted where it ran
    yield cls, node
    children = node.children().iterator()
    while children.hasNext():
        yield from _operators(children.next())


def plan_metrics(df) -> Counter:
    """Summed SQL metrics of ``df``'s executed plan (call after its action)."""
    out: Counter = Counter({name: 0 for name in PLAN_METRICS})
    for cls, node in _operators(df._jdf.queryExecution().executedPlan()):
        if cls == "FileSourceScanExec":
            out["spark.plan.batched_scans"] += int(node.supportsColumnar())
        elif cls == "ShuffleExchangeExec":
            out["spark.plan.exchanges"] += 1
        wanted = [(n, m, s) for n, (c, m, s) in _METRICS.items() if c == cls]
        if wanted:
            values = _metric_map(node)
            for name, metric, scale in wanted:
                out[name] += values.get(metric, 0) * scale
    return out


# -----------------------------------------------------------------------------
# processes


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % entry) as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open("/proc/%d/status" % pid) as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def peak_rss_mb(spark) -> float:
    """Summed VmHWM of the Spark driver JVM and every process under it (the
    Python daemon and its workers)."""
    return sum(_hwm_kb(p) for p in process_tree(jvm_pid(spark))) / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open("/proc/%d/stat" % pid) as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, then the gateway JVM and every process it
    started, and wait until all of them have ended."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = process_tree(proc.pid)
    try:
        spark.stop()
    finally:
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        proc.terminate()
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout=timeout)
        deadline = time.time() + timeout
        rest = [p for p in pids if p != proc.pid]
        while time.time() < deadline and any(_alive(p) for p in rest):
            time.sleep(0.05)
        for p in rest:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        SparkContext._gateway = None
        SparkContext._jvm = None
