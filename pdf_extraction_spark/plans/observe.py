"""Execution observability: per-operator metrics out of the EXECUTED plan.

Production Spark jobs are monitored by what actually happened — rows
scanned, shuffle bytes moved, memory spilled — not by what the optimizer
planned. The SQL UI holds these numbers; this module surfaces them to the
driver program so a pipeline can persist them next to its lineage/metrics
tables (the engine twin of the reference's per-job stats rows,
app/db/batch_jobs.py:127-183) and alert on regressions (e.g. a scan that
suddenly reads 100× the rows after a pushdown regression).

Usage: run an action on the DataFrame first (the metrics are populated by
execution), then::

    rows = execution_metrics(df)     # [(depth, node, {metric: value})]
    summary = metrics_summary(df)    # the handful you alert on

Implementation notes: walks the JVM plan via py4j. AQE wraps the real
tree — ``AdaptiveSparkPlan``/``ResultQueryStage``/``ShuffleQueryStage``/
``BroadcastQueryStage`` nodes expose their materialized subtree through
``executedPlan()``/``plan()``; leaf wrappers fall back to ``child()``.
Purely driver-side and read-only: no extra jobs, no listeners, safe to
call after every action.
"""

from __future__ import annotations

from typing import Any, Dict, List, Tuple

NodeMetrics = Tuple[int, str, Dict[str, int]]


def _node_metrics(node) -> Dict[str, int]:
    out: Dict[str, int] = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def _children(node) -> List[Any]:
    if node.nodeName() == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    ch = node.children()
    kids = [ch.apply(i) for i in range(ch.size())]
    if not kids:
        # QueryStage / InputAdapter-style wrappers hide their subtree
        for meth in ("plan", "child"):
            try:
                return [getattr(node, meth)()]
            except Exception:  # noqa: BLE001 — py4j raises on missing method
                continue
    return kids


def execution_metrics(df) -> List[NodeMetrics]:
    """(depth, nodeName, {metric: value}) for every node of the executed
    plan. Call AFTER an action; before execution most values are 0."""
    out: List[NodeMetrics] = []

    def walk(node, depth: int) -> None:
        out.append((depth, node.nodeName(), _node_metrics(node)))
        for k in _children(node):
            walk(k, depth + 1)

    walk(df._jdf.queryExecution().executedPlan(), 0)
    return out


_SUMMARY_KEYS = {
    "rows_scanned": ("Scan", "numOutputRows"),
    "files_scanned": ("Scan", "numFiles"),
    "shuffle_bytes_written": ("Exchange", "shuffleBytesWritten"),
    "shuffle_records_written": ("Exchange", "shuffleRecordsWritten"),
    "spill_bytes": ("", "spillSize"),
    "peak_memory_max": ("", "peakMemory"),
}


OP_METRICS_SCHEMA = (
    "run_id string, stage string, depth int, node string, rows_out bigint, "
    "files_read bigint, shuffle_bytes_written bigint, "
    "shuffle_records_written bigint, spill_bytes bigint, peak_memory bigint"
)


def op_metrics_rows(df, run_id: str, stage: str) -> List[Dict[str, Any]]:
    """Executed-plan metrics flattened to ``op_metrics`` table rows — the
    operator-grain twin of the reference's per-job stats rows
    (app/db/batch_jobs.py:127-183). Call AFTER an action on ``df`` (the
    pipeline collects its run aggregate — the last wave's lineage stats and
    the route metrics in one ``GROUPING SETS`` plan — and records that plan
    under ``stage="run_metrics"``; a write would go through its own
    QueryExecution and leave the DataFrame's plan metrics at zero). The
    rows are written with ``TableIO.frame``. Absent metrics stay NULL
    (e.g. a Scan node has no shuffle columns), so per-node alert queries
    can distinguish 'not applicable' from 'zero'."""
    rows: List[Dict[str, Any]] = []
    for depth, name, mets in execution_metrics(df):
        rows.append(
            {
                "run_id": run_id,
                "stage": stage,
                "depth": depth,
                "node": name,
                "rows_out": mets.get("numOutputRows"),
                "files_read": mets.get("numFiles"),
                "shuffle_bytes_written": mets.get("shuffleBytesWritten"),
                "shuffle_records_written": mets.get("shuffleRecordsWritten"),
                "spill_bytes": mets.get("spillSize"),
                "peak_memory": mets.get("peakMemory"),
            }
        )
    return rows


def metrics_summary(df) -> Dict[str, int]:
    """The alertable numbers: scan volume, shuffle volume, spill, peak
    memory — summed (peak: max) over matching nodes of the executed plan."""
    rows = execution_metrics(df)
    out = {k: 0 for k in _SUMMARY_KEYS}
    for _depth, name, mets in rows:
        for key, (node_prefix, metric) in _SUMMARY_KEYS.items():
            if node_prefix and not name.startswith(node_prefix):
                continue
            v = mets.get(metric)
            if v is None:
                continue
            if key == "peak_memory_max":
                out[key] = max(out[key], v)
            else:
                out[key] += v
    return out
