"""Read Spark's SQL metrics from executed plans.

A ``QueryExecutionListener`` (implemented in Python over the py4j callback
server) keeps each finished ``QueryExecution``. After an action the reader
waits for the listener bus to drain, then walks every plan: through the
AQE plan's current physical plan and into ``.plan()`` of each query stage,
so the numbers are those of the plan that really ran. Only used by the
traced run.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

_STAGE_NODES = {"ShuffleQueryStageExec", "BroadcastQueryStageExec",
                "TableCacheQueryStageExec", "ResultQueryStageExec"}
_SKIP_NODES = {"ReusedExchangeExec", "ReusedSubqueryExec"}


@dataclass
class PlanSummary:
    python_ms: float = 0.0          # pythonTotalTime over Python nodes
    python_sent_bytes: float = 0.0  # pythonDataSent
    shuffle_bytes: float = 0.0      # shuffleBytesWritten
    files_read_bytes: float = 0.0   # filesSize of file scans
    scan_rows: float = 0.0          # numOutputRows of file scans
    executions: int = 0

    def add(self, other: "PlanSummary") -> None:
        for k in ("python_ms", "python_sent_bytes", "shuffle_bytes",
                  "files_read_bytes", "scan_rows", "executions"):
            setattr(self, k, getattr(self, k) + getattr(other, k))


def node_metrics(plan) -> dict[str, float]:
    out = {}
    it = plan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().value())
    return out


def walk(plan, visit) -> None:
    """Call ``visit(name, metrics)`` on every node of an executed
    plan, descending through AQE and query stages. Reused exchanges are
    skipped: their work is counted where the exchange first ran."""
    name = plan.getClass().getSimpleName()
    if name in _SKIP_NODES:
        return
    if name == "AdaptiveSparkPlanExec":
        walk(plan.executedPlan(), visit)
        return
    if name in _STAGE_NODES:
        walk(plan.plan(), visit)
        return
    visit(name, node_metrics(plan))
    it = plan.children().iterator()
    while it.hasNext():
        walk(it.next(), visit)


def summarize_plan(plan) -> PlanSummary:
    s = PlanSummary(executions=1)

    def visit(name, m):
        if "pythonTotalTime" in m:
            s.python_ms += m["pythonTotalTime"]
            s.python_sent_bytes += m.get("pythonDataSent", 0.0)
        s.shuffle_bytes += m.get("shuffleBytesWritten", 0.0)
        if "filesSize" in m:
            s.files_read_bytes += m["filesSize"]
            s.scan_rows += m.get("numOutputRows", 0.0)

    walk(plan, visit)
    return s


class PlanListener:
    """Collects finished query executions; :meth:`drain` summarizes the
    ones that finished since the previous drain."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._lock = threading.Lock()  # callbacks arrive on a py4j thread
        self._pending: list = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    # --- py4j interface: org.apache.spark.sql.util.QueryExecutionListener
    def onSuccess(self, func_name, qe, duration_ns):
        with self._lock:
            self._pending.append(qe)

    def onFailure(self, func_name, qe, exception):
        with self._lock:
            self._pending.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    # ---
    def drain(self) -> PlanSummary:
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        with self._lock:
            pending, self._pending = self._pending, []
        total = PlanSummary()
        for qe in pending:
            total.add(summarize_plan(qe.executedPlan()))
        return total

    def close(self) -> None:
        self._spark._jsparkSession.listenerManager().unregister(self)
