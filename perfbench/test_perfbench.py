"""Tests of the benchmark's own parts that need no Spark session: the
seeded generator, the pinned base data, the event-log parser and the
per-layer table's schema.  Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_plan_is_a_function_of_the_seed():
    ops = ["a", "b", "c", "d"]
    keys = list(range(5, 1005))
    p1 = gen.plan(1, "olap_reads", ops=ops, passes=3, keys=keys, batches=2)
    again = gen.plan(1, "olap_reads", ops=ops, passes=3, keys=keys,
                     batches=2)
    p2 = gen.plan(2, "olap_reads", ops=ops, passes=3, keys=keys, batches=2)
    assert p1["seed"] == 1 and p2["seed"] == 2
    assert gen.digest(p1) == gen.digest(again)
    assert gen.digest(p1) != gen.digest(p2)
    for p in (p1, p2):
        assert len(p["passes"]) == 3 and len(p["batches"]) == 2
        assert len(p["reads"]) == 3
        assert all(sorted(order) == ops for order in p["passes"])
        batch = p["batches"][0]["o_orderkey"]
        assert len(batch) == int(len(keys) * gen.BATCH_FRACTION)
        assert batch == sorted(set(batch)) and set(batch) <= set(keys)
        assert len(p["reads"][0]) == gen.READS_PER_BATCH


def test_a_longer_plan_extends_a_shorter_one():
    keys = list(range(1000))
    short = gen.plan(3, "ingest_compact", ops=["a", "b"], passes=2,
                     keys=keys, batches=2)
    long = gen.plan(3, "ingest_compact", ops=["a", "b"], passes=9,
                    keys=keys, batches=9)
    for k in ("passes", "batches", "reads"):
        assert long[k][:len(short[k])] == short[k]


def test_workloads_draw_different_streams_from_one_seed():
    a = gen.plan(7, "olap_reads", keys=list(range(500)), batches=1)
    b = gen.plan(7, "ingest_compact", keys=list(range(500)), batches=1)
    assert a["batches"][0] != b["batches"][0]


def test_every_unit_has_its_inputs():
    import workloads

    for cls in workloads.WORKLOADS.values():
        p = cls.plan(1, 5)
        if "passes" in p:
            assert len(p["passes"]) == 1 + 5
        if "batches" in p:
            assert len(p["batches"]) == 5 * workloads.COMPACT_EVERY + 1
            assert len(p["reads"]) == len(p["batches"]) + 1


def test_base_data_is_the_pinned_test_data():
    import hashlib

    from tools.oracle_common import TABLES

    with open(os.path.join(gen.DATA_DIR, "SHA256SUMS")) as f:
        pinned = dict(reversed(ln.split()) for ln in f if ln.strip())
    assert sorted(pinned) == sorted(f"{t}.parquet" for t in TABLES)
    for name, want in pinned.items():
        with open(os.path.join(gen.DATA_DIR, name), "rb") as f:
            assert hashlib.sha256(f.read()).hexdigest() == want, name
    keys = gen.order_keys()
    assert keys == sorted(set(keys)) and len(keys) == 15_000


def test_percentile_is_smooth_across_a_step():
    assert run.pct([0.25] * 9, 90) == 0.25
    assert abs(run.pct([1.0, 2.0, 3.0], 50) - 2.0) < 1e-12
    # a step between two clusters at the median rank: the estimate lies
    # between them instead of on either side
    mid = run.pct([1.0] * 10 + [2.0] * 10, 50)
    assert abs(mid - 1.5) < 1e-9
    ps = [run.pct([float(i) for i in range(50)], q) for q in range(5, 100, 5)]
    assert ps == sorted(ps)
    assert abs(run.betainc(2.0, 3.0, 0.4) - 0.5248) < 1e-12


def _event_log(path: str) -> None:
    plan = {"nodeName": "Scan parquet ", "metrics": [
        {"name": "number of files read", "accumulatorId": 10,
         "metricType": "sum"},
        {"name": "number of output rows", "accumulatorId": 11,
         "metricType": "sum"}],
        "children": [{"nodeName": "ArrowEvalPython", "children": [],
                      "metrics": [{"name": "time to run Python workers",
                                   "accumulatorId": 12,
                                   "metricType": "timing"}]}]}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "3:q::exec"}},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "executionId": 0,
         "time": 1000, "jobGroupId": "3:q::exec", "sparkPlanInfo": plan},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 40,
                          "Executor CPU Time": 30_000_000,
                          "JVM GC Time": 2, "Peak Execution Memory": 64,
                          "Shuffle Write Metrics":
                              {"Shuffle Bytes Written": 100}},
         "Task Info": {"Accumulables": [{"ID": 11, "Update": "500"},
                                        {"ID": 12, "Update": 7}]}},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerDriverAccumUpdates", "executionId": 0,
         "accumUpdates": [[10, 4]]},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 1250},
    ]
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def test_parse_event_log_groups_by_job_group(tmp_path):
    path = str(tmp_path / "log")
    _event_log(path)
    g = spans.parse_event_log(path)["3:q::exec"]
    assert g["jobs"] == 1 and g["tasks"] == 1
    assert g["executor_cpu_ms"] == 30.0 and g["jvm_gc_ms"] == 2
    assert g["shuffle_write_bytes"] == 100
    assert g["job_wall_ms"] == 250
    assert g["scan.files_read"] == 4 and g["scan.rows_read"] == 500
    assert g["python.run_ms"] == 7


def _spans() -> list[dict]:
    def s(i, parent, layer, start, end, **kw):
        return {"id": i, "parent": parent, "layer": layer, "name": layer,
                "op": "3:q", "main": True, "start": start, "end": end, **kw}

    return [
        s(0, None, "op", 0.0, 1.0, rows_out=50),
        s(1, 0, "entry", 0.0, 0.3),
        s(2, 1, "table", 0.1, 0.2, rowsets=2, files_visible=8),
        s(3, 0, "spark", 0.3, 0.9, plan_ms=12.0),
    ]


def test_self_times_subtract_children():
    st = spans.self_times(_spans())
    assert abs(st[0] - 0.1) < 1e-9
    assert abs(st[1] - 0.2) < 1e-9
    assert abs(st[3] - 0.6) < 1e-9


def test_layer_metrics_schema_is_pinned(tmp_path):
    path = str(tmp_path / "log")
    _event_log(path)
    groups = spans.parse_event_log(path)
    m, where = spans.layer_metrics(_spans(), groups, [], {},
                                   {"timed_wall_s": 1.0})
    assert set(m) == set(spans.LAYER_UNITS)
    assert all(isinstance(v, float) for v in m.values())
    assert m["scan.files_read"] == 4.0 and m["scan.files_listed"] == 8.0
    assert m["scan.files_read_frac"] == 0.5
    assert m["scan.rows_out_per_row_read"] == 0.1
    assert m["spark.plan_ms"] == 12.0
    assert m["table.rowsets_per_read"] == 2.0
    assert abs(m["trace.span_coverage"] - 1.0) < 1e-9
    assert abs(where["_total_s"] - 1.0) < 1e-3
    assert set(where) - {"_total_s", "_timed_wall_s"} <= set(
        spans.WHERE_LAYERS)


def test_benchmark_json_names_every_metric():
    b = _bench_json()
    assert {w["name"] for w in b["workloads"]} == {
        "olap_reads", "ingest_compact"}
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == \
        spans.LAYER_UNITS
    for m in b["per_layer"]:
        want = "higher" if m["name"] in spans.HIGHER_IS_BETTER else "lower"
        assert m["better"] == want
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
