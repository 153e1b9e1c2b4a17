"""Self-tests of the benchmark harness (plain Python, no Spark):

  python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from evtlog import layer_table, tasks_by_layer  # noqa: E402
from harness import (  # noqa: E402
    CheckFailed,
    OpLog,
    percentile,
    samples_beyond,
    self_intervals,
    tail_percentile,
)


def test_percentile_interpolates_like_statistics_quantiles():
    import statistics

    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert percentile(xs, 25) == pytest.approx(q1)
    assert percentile(xs, 50) == pytest.approx(q2)
    assert percentile(xs, 75) == pytest.approx(q3)


@pytest.mark.parametrize(
    "n, expected",
    [(10, None), (20, 50.0), (36, 50.0), (39, 75.0), (99, 90.0), (100, 90.0), (199, 95.0),
     (1000, 99.0)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    xs = [float(i) for i in range(n)]
    p = tail_percentile(xs)
    assert p == expected
    if p is not None:
        assert samples_beyond(xs, p) >= 10


def test_p90_of_100_distinct_samples_has_ten_beyond():
    xs = [float(i) for i in range(100)]
    assert samples_beyond(xs, 90) == 10


def test_fail_ratio_counts_raises_and_check_mismatches():
    log = OpLog()
    errors = []

    def ok():
        return 50

    def mismatch():
        raise CheckFailed("knn: rows differ from the reference")

    def crash():
        raise RuntimeError("executor lost")

    for op in (ok, mismatch, ok, crash):
        log.run(op, errors.append)
    assert log.attempted == 4
    assert log.failed == 2
    assert log.fail_ratio == 0.5
    assert log.items == 100  # items of failed ops are not completed items
    assert [type(e) for e in errors] == [CheckFailed, RuntimeError]
    assert len(log.latencies_s) == 4  # failed ops keep their latency


def _self_time(span, children):
    return sum(b - a for a, b in self_intervals(span, children))


def test_self_time_subtracts_children_clipped_to_span():
    span = (0.0, 10.0)
    children = [(2.0, 4.0), (3.0, 6.0), (9.0, 12.0), (-5.0, 1.0)]
    # children cover [0,1] + [2,6] + [9,10] = 6 of the span, once each
    assert self_intervals(span, children) == [(1.0, 2.0), (6.0, 9.0)]
    assert _self_time(span, children) == pytest.approx(4.0)
    assert _self_time(span, []) == pytest.approx(10.0)
    assert _self_time(span, [(-1.0, 11.0)]) == 0.0
    assert _self_time(span, [(20.0, 30.0)]) == pytest.approx(10.0)


def test_layer_self_intervals_split_parent_and_child_layers():
    from harness import Span, Tracer

    tr = Tracer(True)
    tr.spans = [
        Span("op", "op", 0.0, 10.0, None),
        Span("decode", "decode", 1.0, 4.0, 0),
        Span("lineage", "lineage", 5.0, 9.0, 0),
        Span("verify", "lineage", 7.0, 8.0, 2),
    ]
    iv = tr.layer_self_intervals([(0.0, 10.0)])
    assert sum(b - a for a, b in iv["decode"]) == pytest.approx(3.0)
    assert sum(b - a for a, b in iv["lineage"]) == pytest.approx(4.0)  # 3 s own + 1 s verify
    assert sum(b - a for a, b in iv["op"]) == pytest.approx(3.0)
    total = sum(b - a for v in iv.values() for a, b in v)
    assert total == pytest.approx(10.0)  # self times tile the op span exactly


def _task_end(stage, launch_ms, finish_ms, run_ms, cpu_ns=0, reason="Success"):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms, "Getting Result Time": 0,
                      "Failed": reason != "Success"},
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                         "Executor Deserialize Time": 0, "Result Serialization Time": 0,
                         "JVM GC Time": 0},
    }


def test_layer_table_clips_tasks_to_the_span_so_idle_is_never_negative():
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [1],
         "Properties": {"spark.job.description": "knn"}},
        # starts 1 s before the span and ends 1 s after it
        _task_end(1, 9_000, 13_000, 4_000, cpu_ns=4_000_000_000),
        _task_end(1, 10_000, 11_000, 1_000, reason="ExceptionFailure"),
    ]
    tasks = tasks_by_layer(events)
    table = layer_table({"knn": [(10.0, 12.0)]}, tasks, cores=1, rows_out={"knn": 7}, layers=["knn"])
    row = table["knn"]
    assert row["wall_s"] == pytest.approx(2.0)
    assert row["task_s"] == pytest.approx(3.0)  # 2 s of the long task + 1 s
    assert row["cpu_s"] == pytest.approx(2.0)  # half of the long task lies inside
    assert row["idle_s"] >= 0.0
    assert row["tasks"] == 2 and row["task_failures"] == 1
    assert row["rows_out"] == 7


def test_layer_table_ignores_untagged_jobs():
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        _task_end(2, 10_000, 11_000, 1_000),
    ]
    table = layer_table({"knn": [(10.0, 12.0)]}, tasks_by_layer(events), 4, {}, ["knn"])
    assert table["knn"]["tasks"] == 0
    assert table["knn"]["idle_s"] == pytest.approx(8.0)


def test_stop_children_ends_orphaned_grandchildren():
    # in a fresh interpreter, since becoming a subreaper is for life: a shell
    # starts a long sleep in the background and exits, orphaning the sleep
    script = """
import os, subprocess, sys
sys.path.insert(0, sys.argv[1])
from harness import become_subreaper, stop_children
assert become_subreaper()
sh = subprocess.run(["sh", "-c", "sleep 60 >/dev/null & echo $!"], stdout=subprocess.PIPE, text=True)
orphan = int(sh.stdout)
assert os.path.exists(f"/proc/{orphan}")
assert stop_children(grace_s=1.0, limit_s=10.0) == []
print(os.path.exists(f"/proc/{orphan}"))
"""
    import subprocess

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", script, here], stdout=subprocess.PIPE, text=True, timeout=30)
    assert out.returncode == 0
    assert out.stdout.strip() == "False"
