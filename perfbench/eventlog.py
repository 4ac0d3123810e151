"""Reader for Spark's uncompressed JSON event log.

Attributes task metrics and SQL plan metrics to the job group (the
benchmark op) that launched them. The session must run with
``spark.eventLog.compress=false``: Spark 4 compresses event logs with
zstd by default, and no Python zstd reader is available.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

#: SQL plan metric name → counter key, and the divisor that turns the
#: metric's raw unit into the counter's unit.
_SQL_METRICS = {
    "scan time": "scan_time_ms",
    "number of files read": "files_read",
    "time to start Python workers": "py_worker_start_ms",
    "time to run Python workers": "py_worker_run_ms",
}
_NS_PER_MS = 1_000_000

COUNTERS = (
    "exchanges", "shuffle_write_bytes", "spill_bytes", "scan_time_ms",
    "files_read", "bytes_read", "py_worker_start_ms", "py_worker_run_ms", "gc_ms",
)


def _event_files(log_dir: str) -> list[str]:
    """Event files in write order: rolled ``events_<n>_*`` files inside
    ``eventlog_v2_*`` directories, or single-file logs."""
    def index(path: str) -> int:
        base = os.path.basename(path)
        parts = base.split("_")
        return int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0

    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=index)
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    )


def _walk_plan(plan: dict, metrics: dict, nodes: list) -> None:
    nodes.append(plan.get("nodeName", ""))
    for m in plan.get("metrics", []):
        metrics[m["accumulatorId"]] = (m["name"], m.get("metricType", "sum"))
    for child in plan.get("children", []):
        _walk_plan(child, metrics, nodes)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """Per job group counters plus the job → description links."""

    def __init__(self, log_dir: str):
        self.by_group: dict[str, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(COUNTERS, 0.0)
        )
        #: job id → (job group, job description)
        self.jobs: dict[int, tuple[str | None, str | None]] = {}
        stage_job: dict[int, int] = {}
        exec_group: dict[int, str | None] = {}
        exec_nodes: dict[int, list[str]] = {}
        metric_of: dict[int, tuple[str, str]] = {}
        for path in _event_files(log_dir):
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev["Event"].rsplit(".", 1)[-1]
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jid = ev["Job ID"]
                        self.jobs[jid] = (
                            props.get("spark.jobGroup.id"),
                            props.get("spark.job.description"),
                        )
                        for sid in ev.get("Stage IDs", []):
                            stage_job.setdefault(sid, jid)
                    elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                        eid = ev["executionId"]
                        if kind == "SparkListenerSQLExecutionStart":
                            exec_group[eid] = ev.get("jobGroupId")
                        nodes: list[str] = []
                        _walk_plan(ev["sparkPlanInfo"], metric_of, nodes)
                        exec_nodes[eid] = nodes  # the last plan is the final one
                    elif kind == "SparkListenerSQLAdaptiveSQLMetricUpdates":
                        for m in ev.get("sqlPlanMetrics", []):
                            metric_of[m["accumulatorId"]] = (m["name"], m.get("metricType", "sum"))
                    elif kind == "SparkListenerTaskEnd":
                        jid = stage_job.get(ev["Stage ID"])
                        group = self.jobs.get(jid, (None, None))[0]
                        if group is None:
                            continue
                        c = self.by_group[group]
                        tm = ev.get("Task Metrics") or {}
                        c["gc_ms"] += tm.get("JVM GC Time", 0)
                        c["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                        c["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                        c["bytes_read"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                            self._add_sql_metric(c, acc.get("Name"), metric_of.get(acc.get("ID")), acc.get("Update"))
                    elif kind == "SparkListenerDriverAccumUpdates":
                        group = exec_group.get(ev["executionId"])
                        if group is None:
                            continue
                        c = self.by_group[group]
                        for acc_id, value in ev.get("accumUpdates", []):
                            meta = metric_of.get(acc_id)
                            if meta is not None:
                                self._add_sql_metric(c, meta[0], meta, value)
        for eid, nodes in exec_nodes.items():
            group = exec_group.get(eid)
            if group is not None:
                self.by_group[group]["exchanges"] += sum(
                    n in ("Exchange", "BroadcastExchange") for n in nodes
                )

    @staticmethod
    def _add_sql_metric(c: dict, name, meta, update) -> None:
        name = name or (meta[0] if meta else None)
        key = _SQL_METRICS.get(name)
        if key is None:
            return
        value = _num(update)
        if meta is not None and meta[1] == "nsTiming":
            value /= _NS_PER_MS
        c[key] += value

    def jobs_by_description(self) -> dict[str, list[int]]:
        out: dict[str, list[int]] = defaultdict(list)
        for jid, (_group, desc) in sorted(self.jobs.items()):
            if desc is not None:
                out[desc].append(jid)
        return out
