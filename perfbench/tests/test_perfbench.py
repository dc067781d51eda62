"""Tests of the benchmark's own pieces (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import re
from pathlib import Path

import pytest

import check
import eventlog
import gen
import layers
from spans import Span, Tracer, self_times, subtree, union_length

DATA = Path(__file__).parent / "data"
BENCH = Path(__file__).resolve().parents[2] / "BENCHMARK.json"
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


# ------------------------------------------------------------ event log


def test_parser_on_recorded_log():
    groups = eventlog.parse(DATA / "eventlog_small.json")
    assert set(groups) == {"idle"}
    st = groups["idle"]
    assert (st.jobs, st.tasks, len(st.stages)) == (5, 7, 5)
    assert st.input_rows == 600_000  # one full scan of lineitem at sf 0.1
    assert st.shuffle_write_bytes == 1641
    assert round(st.run_s, 3) == 2.709
    assert st.task_sql["duration"] == 1757.0  # SQL metrics arrive as strings
    assert st.driver_sql[("AQEShuffleRead", "number of partitions")] == 2.0
    assert st.driver_sql[("Scan parquet ", "number of files read")] == 1.0
    # the scan's file bytes, which spark.scan_bytes reports; the tasks'
    # input metrics count only a few kB of footers for the same scan
    assert st.driver_sql[("Scan parquet ", "size of files read")] == 10_889_351
    assert all(b >= a for a, b in st.job_intervals)


def _line(**ev):
    return json.dumps(ev, separators=(",", ":"))


def test_parser_attributes_by_job_group(tmp_path):
    sql = "org.apache.spark.sql.execution.ui."
    plan = {"nodeName": "BroadcastExchange", "metrics": [{"name": "data size", "accumulatorId": 7}], "children": []}
    lines = [
        _line(Event=sql + "SparkListenerSQLExecutionStart", executionId=3, jobGroupId="s1", sparkPlanInfo=plan),
        _line(**{"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0],
                 "Properties": {"spark.jobGroup.id": "s1", "spark.sql.execution.id": "3"}}),
        _line(**{"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500, "Stage IDs": [1],
                 "Properties": {"spark.jobGroup.id": "s2"}}),
        _line(**{"Event": "SparkListenerTaskStart", "Stage ID": 0}),
    ]
    for stage, dur in ((0, 100), (0, 300), (1, 50)):
        lines.append(_line(**{
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + dur,
                          "Accumulables": [{"Name": "sort time", "Update": "4"}]},
            "Task Metrics": {"Executor Run Time": dur, "Executor CPU Time": dur * 10**6},
        }))
    lines += [
        _line(**{"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400}),
        _line(**{"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1600}),
        _line(Event=sql + "SparkListenerDriverAccumUpdates", executionId=3, accumUpdates=[[7, 10]]),
        _line(Event=sql + "SparkListenerDriverAccumUpdates", executionId=3, accumUpdates=[[7, 25]]),
    ]
    log = tmp_path / "log"
    log.write_text("\n".join(lines) + "\n")
    g = eventlog.parse(log)
    assert (g["s1"].jobs, g["s1"].tasks, g["s2"].tasks) == (1, 2, 1)
    assert g["s1"].job_intervals == [(1.0, 1.4)]
    assert g["s1"].run_s == pytest.approx(0.4)
    assert g["s1"].cpu_s == pytest.approx(0.4)
    assert g["s1"].task_sql["sort time"] == 8.0
    # a driver metric is posted as a running total: the last value counts
    assert g["s1"].driver_sql[("BroadcastExchange", "data size")] == 25
    assert eventlog.straggler_ratio(g["s1"].task_durs, min_tasks=2) == pytest.approx(1.5)


# ------------------------------------------------------------ spans


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10.0)


def test_self_times_add_up_to_op_wall_time():
    spans = [
        Span(0, "op", None, 0.0, 10.0),
        Span(1, "catalog.build", 0, 1.0, 3.0),
        Span(2, "catalog.action", 0, 3.0, 9.0),
        Span(3, "inner", 2, 4.0, 5.0),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 2.0, 1: 2.0, 2: 5.0, 3: 1.0})
    assert sum(st[s.id] for s in subtree(spans, 0)) == pytest.approx(spans[0].dur)


def test_self_time_counts_overlap_once_and_clips_children():
    spans = [
        Span(0, "op", None, 0.0, 10.0),
        Span(1, "a", 0, 2.0, 5.0),
        Span(2, "b", 0, 4.0, 6.0),  # overlaps its sibling
        Span(3, "late", 0, 9.0, 12.0),  # runs past its parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 4.0 - 1.0)


def test_tracer_tags_innermost_span():
    events = []
    tr = Tracer(True, on_enter=lambda i: events.append(("enter", i)), on_exit=lambda p: events.append(("exit", p)))
    with tr.span("op"):
        with tr.span("catalog.build"):
            pass
    assert events == [("enter", 0), ("enter", 1), ("exit", 0), ("exit", None)]
    assert [s.parent for s in tr.spans] == [None, 0]
    off = Tracer(False)
    with off.span("op") as sp:
        assert sp is None
    assert off.spans == []


# ------------------------------------------------------------ metric names


def test_metric_names_are_valid_and_declared():
    for name, unit in layers.PER_LAYER.items():
        assert NAME.match(name), name
        assert re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", unit), unit
    bench = json.loads(BENCH.read_text())
    assert [m["name"] for m in bench["per_layer"]] == list(layers.PER_LAYER)
    assert [m["unit"] for m in bench["per_layer"]] == list(layers.PER_LAYER.values())
    for m in bench["end_to_end"]:
        assert NAME.match(m["name"]) and m["bound"] <= 0.25
    for w in bench["workloads"]:
        assert NAME.match(w["name"])


# ------------------------------------------------------------ generator


def test_generator_same_seed_same_bytes(tmp_path):
    for out in (tmp_path / "a", tmp_path / "b"):
        gen.catalog_tables(7, out, 0.001)
        gen.refresh_tables(7, out / "refresh", 60, 3, 5)
    gen.catalog_tables(8, tmp_path / "c", 0.001)
    gen.refresh_tables(8, tmp_path / "c" / "refresh", 60, 3, 5)
    assert gen.digest(tmp_path / "a") == gen.digest(tmp_path / "b")
    assert gen.digest(tmp_path / "a") != gen.digest(tmp_path / "c")
    # the checked cycle and the base tables do not depend on the seed
    for sub in ("refresh/raw", "refresh/batch/0"):
        assert gen.digest(tmp_path / "a" / sub) == gen.digest(tmp_path / "c" / sub)


def test_upsert_batches_are_unique_on_key(tmp_path):
    import pyarrow.parquet as pq

    gen.refresh_tables(3, tmp_path, 60, 2, 5)
    for cycle in ("0", "1"):
        for name in gen.MERGED:
            ids = pq.read_table(tmp_path / "batch" / cycle / f"{name}.parquet").column("id").to_pylist()
            assert len(ids) == len(set(ids)) > 5


# ------------------------------------------------------------ checks


def test_compare_ignores_order_and_float_noise():
    cols = ["b", "a"]
    assert check.compare(cols, [(1.0, "x"), (2.5, "y")], ["a", "b"], [("y", 2.5000000000001), ("x", 1)]) == ""
    assert "row count" in check.compare(["a"], [(1,)], ["a"], [(1,), (2,)])
    assert "values differ" in check.compare(["a"], [(1.5,)], ["a"], [(1.6,)])
    assert "columns differ" in check.compare(["a"], [(1,)], ["c"], [(1,)])
