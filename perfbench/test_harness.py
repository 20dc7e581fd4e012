"""Self-tests of the benchmark harness (not of the engine).

    python3 -m pytest perfbench/test_harness.py -q

Run from the repository root.
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def test_same_seed_same_inputs_byte_for_byte(tmp_path):
    build = lambda: workloads.pages_table(gen.make_pages(5, 60, "t", mega_pages=1))  # noqa: E731
    a = gen.cached_dataset(str(tmp_path / "a"), "pages", build)
    b = gen.cached_dataset(str(tmp_path / "b"), "pages", build)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) and len(names) == gen.N_FILES
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    p1, p2 = gen.make_points(5, 1000), gen.make_points(5, 1000)
    assert all(p1[k].tobytes() == p2[k].tobytes() for k in p1)


def test_different_seeds_different_inputs():
    assert [r["text"] for r in gen.make_pages(1, 30, "t")] != \
        [r["text"] for r in gen.make_pages(2, 30, "t")]
    assert gen.make_points(1, 100)["lat"].tobytes() != gen.make_points(2, 100)["lat"].tobytes()


def test_generated_pages_parse_as_their_ground_truth():
    from openair_spark.core.parser import parse_text

    rows = gen.make_pages(3, 150, "t", mega_pages=1)
    assert any(r["expect_error"] for r in rows) and any(r["payload"] is None for r in rows)
    for r in rows:
        if r["payload"] is None:
            continue
        res = parse_text(r["payload"], id_seed=r["url"])
        if r["expect_error"]:
            assert not res.success and r["expect_error"] in res.error_message
        else:
            assert res.success, res.error_message
            assert len(res.geojson["features"]) == r["expect_features"]


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    yield s
    s.stop()


def test_spark_digest_ignores_row_order_and_partitioning(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i, f"p{i % 7}", [[i * 0.5, 1.0]]) for i in range(500)],
                               "a long, b string, ring array<array<double>>")
    base, _ = workloads.digest(df)
    assert workloads.digest(df.orderBy(F.rand(3)).repartition(5))[0] == base
    assert workloads.digest(df.where("a > 0"))[0] != base


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent, "run_id": "r"}


def test_span_self_time_subtracts_union_of_children():
    spans = [
        _span(0, "root", 0.0, 10.0),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 3.0, 6.0, 0),  # overlaps a: children cover [1, 6]
        _span(3, "c", 5.5, 5.8, 2),
        _span(4, "d", 9.0, 12.0, 0),  # runs past its parent: clipped to [9, 10]
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(3.0 - 0.3)
    assert st[3] == pytest.approx(0.3)
    assert tracing.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert tracing.union_length([]) == 0.0


def test_tracer_disabled_records_nothing():
    tr = tracing.Tracer("r")
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_meter_counts_cpu_of_the_process_tree():
    import subprocess

    burn = ("import sys, time\nsys.stdin.readline()\nt = time.process_time()\n"
            "while time.process_time() - t < 0.3:\n    pass\nprint('done', flush=True)\n"
            "sys.stdin.readline()\n")
    child = subprocess.Popen([sys.executable, "-c", burn], stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True)
    try:
        meter = tracing.Meter(child.pid)
        meter.start()
        child.stdin.write("go\n")
        child.stdin.flush()
        assert child.stdout.readline() == "done\n"
        meter.stop()
    finally:
        child.communicate("\n", timeout=10)
    assert 0.29 <= meter.cpu_s < 1.0
    assert meter.wall_s >= 0.29
    assert 0.0 <= meter.steal_frac <= 1.0
    assert meter.peak_rss_mb > 1.0


def test_jit_delta_counts_each_compiler_thread_from_its_own_reading():
    before = {"10": 500, "11": 300, "12": 70}
    after = {"10": 520, "12": 70, "13": 40}  # 11 ended, 13 is new
    assert tracing.jit_delta(before, after) == 20 + 0 + 40
    assert tracing.jit_delta({"10": 900}, {"10": 5}) == 5  # the id was reused


def _canned_log() -> list[str]:
    plan = {"nodeName": "MapInArrow", "metrics": [], "children": [
        {"nodeName": "Filter", "metrics": [
            {"name": "number of output rows", "accumulatorId": 7, "metricType": "sum"}],
         "children": [{"nodeName": "BroadcastExchange", "metrics": [
             {"name": "number of output rows", "accumulatorId": 8, "metricType": "sum"}],
             "children": []}]}]}

    def task(stage, run_ms, cpu_ns, rows, py_ms, reason="Success"):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": reason},
                "Task Info": {"Accumulables": [
                    {"ID": 7, "Name": "number of output rows", "Update": rows},
                    {"ID": 9, "Name": "time to run Python workers", "Update": str(py_ms)},
                    {"ID": 10, "Name": "data sent to Python workers", "Update": 2_000_000}]},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                                 "JVM GC Time": 10, "Disk Bytes Spilled": 0,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 1_000_000}}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "ops.pip"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "jobGroupId": "ops.pip", "sparkPlanInfo": plan},
        task(0, 100, 5e7, 10, 40), task(0, 300, 5e7, 20, 60), task(0, 200, 5e7, 30, 0),
        task(1, 50, 1e7, 1, 0), task(1, 999, 1e7, 1000, 0, reason="TaskKilled"),
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 0, "accumUpdates": [[8, 42]]},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4100},
    ]
    return [json.dumps(e) for e in events]


def test_event_log_attributes_tasks_and_sql_rows_to_job_groups():
    log = tracing.EventLog(_canned_log())
    assert log.job_intervals("ops.pip") == [(1.0, 3.5)]
    t = log.task_totals("ops.pip")
    assert t["cpu_s"] == pytest.approx(0.16)  # the killed task is left out
    assert t["python_s"] == pytest.approx(0.1)
    assert t["arrow_in_mb"] == pytest.approx(8.0)
    assert t["shuffle_mb"] == pytest.approx(4.0)
    assert t["gc_s"] == pytest.approx(0.04)
    assert t["task_max_over_median"] == pytest.approx(1.5)  # stage 0: 300 / 200
    (plan,) = log.group_plans("ops.pip")
    kernel = tracing.find(plan, "MapInArrow")
    assert log.rows(tracing.first_with_rows(kernel["children"][0])) == 61  # killed task ignored
    assert log.rows(tracing.find(plan, "BroadcastExchange")) == 42
    assert log.task_totals("ops.knn")["cpu_s"] == 0
