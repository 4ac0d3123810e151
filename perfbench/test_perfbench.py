"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

``test_counters_repeat`` launches two short traced runs per workload
(about two minutes per workload on 4 cores); the other tests are
instant.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
from eventlog import EventLog  # noqa: E402
from run import tail  # noqa: E402
from spans import CpuMeter, probe_s, stmt_kind  # noqa: E402

#: Per-op counters that must repeat exactly for the same seed: Spark
#: jobs, stages and tasks, the data files and bytes the op wrote, the
#: metadata files it wrote, and the event log's plan-level counts.
COUNTERS = (
    "name", "jobs", "stages", "tasks", "data_files", "data_bytes",
    "meta_files", "rows_written", "rows_changed",
)
SPARK_COUNTERS = ("exchanges", "files_read")


def _traced(workload: str, seed: int, spans: Path) -> list[dict]:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "4", "--trace", "1", "--spans", str(spans)],
        cwd=HERE.parent, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert json.loads(p.stdout.splitlines()[-1])["correct"]
    ops = json.loads(spans.read_text())["ops"]
    return [
        {k: op[k] for k in COUNTERS} | {k: op["spark"][k] for k in SPARK_COUNTERS}
        for op in ops
    ]


@pytest.mark.parametrize("workload", ["dml_churn", "pipeline_chain"])
def test_counters_repeat(workload, tmp_path):
    first = _traced(workload, 7, tmp_path / "a.json")
    second = _traced(workload, 7, tmp_path / "b.json")
    assert first and first == second


def test_datagen_is_seeded():
    a, b = datagen.make_tables(3, 500), datagen.make_tables(3, 500)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(datagen.make_tables(4, 500)["orders"])


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(100))
    assert tail(xs) == 89
    assert tail([3.0, 1.0, 2.0]) == 3.0


def test_cpu_meter_counts_own_work():
    # metering this Python process as the "JVM" counts its work twice,
    # as Python time and as process time, and finds no JIT or GC threads
    meter = CpuMeter(os.getpid())
    start = meter.start()
    t = time.process_time()
    while time.process_time() - t < 0.05:
        pass
    used = meter.stop(start)
    assert used["jit"] == used["gc"] == 0.0
    assert 0.09 < used["engine"] < 0.2


def test_probe_takes_cpu_time():
    assert 0 < probe_s() < 1.0


def test_stmt_kind():
    assert stmt_kind("DESCRIBE HISTORY orders") == "history"
    assert stmt_kind("  merge INTO t USING s ON x WHEN MATCHED THEN DELETE") == "merge"
    assert stmt_kind("ALTER TABLE t SET TBLPROPERTIES ('a' = 'b')") == "other"
    assert stmt_kind("MERGE BRANCH b INTO main") == "other"


def test_eventlog_attributes_to_job_group(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    plan = {
        "nodeName": "Exchange", "metrics": [{"name": "scan time", "accumulatorId": 9, "metricType": "timing"}],
        "children": [{"nodeName": "Scan parquet", "metrics": [
            {"name": "number of files read", "accumulatorId": 10, "metricType": "sum"}], "children": []}],
    }
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "sparkPlanInfo": plan, "jobGroupId": "s1"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "s1", "spark.job.description": "s2"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"JVM GC Time": 5, "Input Metrics": {"Bytes Read": 100}},
         "Task Info": {"Accumulables": [{"ID": 9, "Name": "scan time", "Update": 7}]}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 0, "accumUpdates": [[10, 3]]},
    ]
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    ev = EventLog(str(tmp_path))
    c = ev.by_group["s1"]
    assert (c["exchanges"], c["scan_time_ms"], c["files_read"], c["gc_ms"], c["bytes_read"]) == (1, 7, 3, 5, 100)
    assert ev.jobs_by_description() == {"s2": [0]}
