"""Pins the benchmark's record and result line (no Spark needed).

    python3 -m pytest perfbench/test_record.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from record import OpLog, result_line, summary, write_record  # noqa: E402
from tracing import fold_event_log  # noqa: E402


def test_every_operation_kept_with_counts(tmp_path):
    ops = OpLog()
    names = [f"query.q{i:02d}_{'x' * 40}" for i in range(50)]
    for p in range(3):
        for n in names:
            ops.add(n, 0.5 + p)
    ops.add("query.q00_" + "x" * 40, None, ok=False)
    path = tmp_path / "record.json"
    write_record(str(path), {"operations": ops.ops})
    kept = json.loads(path.read_text())["operations"]
    assert sorted(kept) == sorted(names)
    assert all(kept[n]["attempted"] == 3 for n in names[1:])
    assert kept[names[0]] == {"attempted": 4, "failed": 1, "walls": [0.5, 1.5, 2.5]}

    line = json.loads(result_line(True, ops, {"pass_s": (1.25, "s")}))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert (line["attempted"], line["failed"]) == (151, 1)
    assert line["metrics"] == {"pass_s": {"value": 1.25, "unit": "s"}}


def test_percentile_needs_ten_samples_beyond_it():
    assert "p90" not in summary([1.0] * 99)
    s = summary([float(i) for i in range(1, 101)])
    assert s["p90"] == 90.0 and "p99" not in s
    assert s["n"] == 100 and s["median"] == 50.5


def test_event_log_fold_by_job_group(tmp_path):
    plan = {"nodeName": "MapInPandas", "metrics": [
        {"name": "time to run Python workers", "accumulatorId": 7, "metricType": "timing"},
        {"name": "data sent to Python workers", "accumulatorId": 8, "metricType": "size"},
    ], "children": [{"nodeName": "Scan parquet ", "metrics": [
        {"name": "scan time", "accumulatorId": 9, "metricType": "timing"}], "children": []}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "physicalPlanDescription": "Execute InsertIntoHadoopFsRelationCommand",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 1000, "Stage IDs": [5],
         "Properties": {"spark.jobGroup.id": "perfbench-1", "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 5, "Accumulables": [
            {"ID": 7, "Name": "time to run Python workers", "Value": "1500"},
            {"ID": 8, "Name": "data sent to Python workers", "Value": "2048"},
            {"ID": 9, "Name": "scan time", "Value": "250"},
            {"ID": 1, "Name": "internal.metrics.input.recordsRead", "Value": 40},
        ]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 3500},
        {"Event": "SparkListenerJobStart", "Job ID": 4, "Submission Time": 4000, "Stage IDs": [6],
         "Properties": {}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    fold = fold_event_log(str(tmp_path))
    assert list(fold) == ["perfbench-1"]
    row = fold["perfbench-1"]
    assert row["python_s"] == 1.5 and row["arrow_sent_bytes"] == 2048
    assert row["scan_s"] == 0.25 and row["records_read"] == 40
    (job,) = row["jobs"]
    assert job["wall_s"] == 2.5 and "InsertIntoHadoopFsRelationCommand" in job["plan"]


def test_mix_queries_are_registered_with_oracles():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    from crossai_ts_spark.entry_queries import REGISTRY
    from workloads import QueryMix

    assert all(REGISTRY[q][1] is not None for q in QueryMix.QUERIES)


def test_tables_cover_the_oracle_tables():
    from tables import SIZES, TABLES, make_tables

    t = make_tables(1)
    assert sorted(t) == sorted(TABLES)
    assert {k: t[k].num_rows for k in SIZES if k in t} == {k: v for k, v in SIZES.items() if k in t}
    assert t["events"]["user_id"].to_numpy().max() < SIZES["users"]
