"""Unit tests of the benchmark's own helpers. Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import procfs  # noqa: E402
import tracing  # noqa: E402
from gen import Checksum, ZipfItems, item_names  # noqa: E402
from stats import tail  # noqa: E402


def test_tail_is_highest_rank_with_ten_beyond():
    xs = [float(v) for v in range(1, 41)]  # 40 samples
    value, pct = tail(xs)
    assert value == 30.0  # 31..40 lie beyond it
    assert pct == 75.0
    assert sum(x > value for x in xs) == 10


def test_tail_order_does_not_matter():
    xs = list(np.random.default_rng(3).random(57))
    assert tail(xs) == tail(sorted(xs, reverse=True))


def test_tail_of_short_run_is_the_median():
    assert tail([5.0, 1.0, 3.0]) == (3.0, 50.0)
    assert tail([float(v) for v in range(19)]) == (9.0, 50.0)
    assert tail([float(v) for v in range(20)]) == (9.0, 50.0)
    with pytest.raises(ValueError):
        tail([])


def _span(name, start, end, parent=None, op=0):
    return tracing.Span(name, start, end, parent, op)


def test_self_time_subtracts_children():
    spans = [
        _span("op", 0.0, 10.0),
        _span("a", 1.0, 3.0, parent=0),
        _span("b", 5.0, 9.0, parent=0),
        _span("b.inner", 6.0, 7.0, parent=2),
    ]
    assert tracing.self_times(spans) == pytest.approx([4.0, 2.0, 3.0, 1.0])


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span("op", 0.0, 10.0),
        _span("a", 1.0, 6.0, parent=0),
        _span("b", 4.0, 8.0, parent=0),  # overlaps a on [4, 6]
        _span("c", 9.0, 12.0, parent=0),  # runs past its parent's end
    ]
    assert tracing.self_times(spans)[0] == pytest.approx(10.0 - 7.0 - 1.0)


def test_tracer_records_nesting_only_when_active():
    t = tracing.Tracer()
    t.begin_op(0, traced=False)
    with t.span("x"):
        pass
    assert t.spans == []
    t.begin_op(3, traced=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [(s.name, s.parent, s.op) for s in t.spans] == [("outer", None, 3), ("inner", 0, 3)]
    assert all(s.end >= s.start for s in t.spans)


STAT = (
    "4242 (python3 (x) y) S 4000 4242 4000 0 -1 4194304 100 0 0 0 "
    "250 50 30 20 20 0 5 0 123456 1000000 300 18446744073709551615"
)


def test_parse_stat_handles_parentheses_in_the_name():
    st = procfs.parse_stat(STAT)
    assert st["pid"] == 4242
    assert st["comm"] == "python3 (x) y"
    assert st["ppid"] == 4000
    assert st["cpu_s"] == pytest.approx(300 / procfs.CLK_TCK)
    assert st["child_cpu_s"] == pytest.approx(50 / procfs.CLK_TCK)


def test_parse_steal():
    text = "cpu  100 0 50 1000 5 0 7 250 0 0\ncpu0 50 0 25 500 2 0 3 125 0 0\n"
    assert procfs.parse_steal(text) == pytest.approx(250 / procfs.CLK_TCK)
    with pytest.raises(ValueError):
        procfs.parse_steal("cpu0 1 2 3\n")


def _proc(pid, ppid, comm, cpu=1.0, child=0.0):
    return {"pid": pid, "ppid": ppid, "comm": comm, "cpu_s": cpu, "child_cpu_s": child}


def test_tree_roles_and_cpu_split():
    procs = [
        _proc(1, 0, "init"),
        _proc(10, 1, "python3", cpu=2.0),
        _proc(11, 10, "java", cpu=5.0, child=0.5),
        _proc(12, 11, "python3", cpu=1.0, child=3.0),  # Spark's Python daemon
        _proc(13, 12, "python3", cpu=0.25),  # a forked worker
        _proc(14, 10, "sh", cpu=0.125),
        _proc(20, 1, "java", cpu=99.0),  # not ours
    ]
    members = procfs.tree(procs, 10)
    roles = {p["pid"]: p["role"] for p in members}
    assert roles == {10: "driver", 11: "jvm", 12: "pyworker", 13: "pyworker", 14: "other"}
    assert procfs.cpu_split(members) == {"driver": 2.0, "jvm": 5.5, "pyworker": 4.25, "other": 0.125}
    assert procfs.tree(procs, 999) == []


def test_jit_cpu_counts_only_compiler_threads(tmp_path):
    def thread(tid, name, ticks):
        d = tmp_path / "77" / "task" / str(tid)
        d.mkdir(parents=True)
        d.joinpath("stat").write_text(
            f"{tid} ({name}) S 1 77 1 0 -1 0 0 0 0 0 {ticks} {ticks} 0 0 20 0 1 0 1 1 1 0"
        )

    thread(78, "C2 CompilerThre", 100)
    thread(79, "C1 CompilerThre", 50)
    thread(80, "Executor task l", 1000)
    assert procfs.jit_cpu_s(77, str(tmp_path)) == pytest.approx(300 / procfs.CLK_TCK)
    assert procfs.jit_cpu_s(99, str(tmp_path)) == 0.0


def test_parse_hwm():
    text = "Name:\tjava\nVmPeak:\t 9000 kB\nVmHWM:\t  1234 kB\nVmRSS:\t 1000 kB\n"
    assert procfs.parse_hwm_kb(text) == 1234
    assert procfs.parse_hwm_kb("Name:\tkthreadd\n") == 0


def test_this_process_is_read():
    assert procfs.peak_rss_kb(os.getpid()) > 0
    assert procfs.snapshot(os.getpid())["driver"] > 0


def _event_log(tmp_path):
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "op3", "spark.job.description": "sketch_state.build"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "RDD Info": [
            {"Name": "MapPartitionsRDD", "Scope": '{"id":"12","name":"MapInPandas"}'}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1250},
         "Task Metrics": {"Executor Run Time": 200, "Executor CPU Time": 150_000_000,
                          "JVM GC Time": 10, "Input Metrics": {"Bytes Read": 4096},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100,
                                                    "Shuffle Records Written": 40000}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 2000, "Finish Time": 2600},
         "Task Metrics": {"Executor Run Time": 500, "Executor CPU Time": 400_000_000,
                          "JVM GC Time": 0,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 50,
                                                    "Shuffle Records Written": 1200}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Info": {"Launch Time": 0, "Finish Time": 5}, "Task Metrics": {"Executor Run Time": 5}},
    ]
    path = tmp_path / "local-1"
    path.write_text("\n".join(json.dumps(e) for e in ev) + "\n")
    return str(tmp_path)


def test_event_log_attribution(tmp_path):
    groups = tracing.attribute(tracing.read_events(_event_log(tmp_path)))
    g = groups["op3"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 2, 2)
    assert g["task_run_s"] == pytest.approx(0.7)
    assert g["task_cpu_s"] == pytest.approx(0.55)
    assert g["gc_s"] == pytest.approx(0.01)
    assert g["input_bytes"] == 4096
    assert g["shuffle_write_bytes"] == 150
    assert g["max_task_ms"] == 600
    assert g["partial_rows"] == 1200  # only the MapInPandas stage
    assert g["run_s_by_span"] == {"sketch_state.build": pytest.approx(0.7)}
    assert groups[""]["jobs"] == 1 and groups[""]["tasks"] == 1


def test_generator_is_deterministic_per_seed():
    def draw(seed):
        z = ZipfItems(np.random.default_rng(seed), 1.1, 5)
        ck = Checksum()
        out = [z.draw(1000) for _ in range(3)]
        for cats, ids in out:
            ck.add(cats, ids)
        return out, ck.hexdigest()

    (a, ha), (b, hb), (c, hc) = draw(7), draw(7), draw(8)
    assert ha == hb and ha != hc
    for (ca, ia), (cb, ib) in zip(a, b):
        assert np.array_equal(ca, cb) and np.array_equal(ia, ib)
    cats, ids = a[0]
    assert cats.min() >= 0 and cats.max() < 5
    assert ids.min() >= 0 and ids.max() < 1_000_000
    assert item_names(np.array([7, 1234567]))[1] == "i1234567"


def test_generator_is_skewed():
    _, ids = ZipfItems(np.random.default_rng(1), 1.1, 1).draw(50_000)
    _, counts = np.unique(ids, return_counts=True)
    top = np.sort(counts)[::-1]
    assert top[0] > 20 * np.median(counts)


def test_benchmark_json_names_what_run_prints():
    import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
