"""Unit tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import harness as H  # noqa: E402


def test_percentile_needs_ten_samples_beyond():
    assert H.percentile(list(range(19)), 50) is None
    assert H.percentile(list(range(20)), 50) == 9
    assert H.percentile([float(i) for i in range(99)], 90) is None
    xs = [float(i) for i in range(100)]
    assert H.percentile(xs, 90) == 89.0
    assert H.percentile([], 50) is None


def test_percentile_ignores_input_order():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 8
    assert H.percentile(xs, 50) == H.percentile(sorted(xs), 50) == 3.0


def test_canon_hash_is_order_and_column_insensitive():
    a = H.canon_hash(["x", "y"], [(1, "a"), (2, "b")])
    b = H.canon_hash(["y", "x"], [("b", 2), ("a", 1)])
    assert a == b
    assert a != H.canon_hash(["x", "y"], [(1, "a"), (2, "c")])
    # values are compared as strings: 1 and 1.0 differ, as in the oracle gate
    assert H.canon_hash(["x"], [(1,)]) != H.canon_hash(["x"], [(1.0,)])


def test_frame_hash_matches_canon_hash():
    pd = pytest.importorskip("pandas")
    df = pd.DataFrame({"b": [2, 1], "a": ["y", "x"]})
    assert H.frame_hash(df) == H.canon_hash(["a", "b"], [("x", 1), ("y", 2)])


def _rec(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "run": "r", "start": start, "end": end}


def test_self_times_subtract_direct_children():
    recs = [
        _rec(0, "op", None, 0.0, 10.0),
        _rec(1, "build", 0, 0.0, 3.0),
        _rec(2, "exec", 0, 3.0, 9.0),
        _rec(3, "inner", 2, 4.0, 5.0),
        _rec(4, "op", None, 10.0, 12.0),
    ]
    st = H.self_times(recs)
    assert st["op"] == pytest.approx(1.0 + 2.0)
    assert st["build"] == pytest.approx(3.0)
    assert st["exec"] == pytest.approx(5.0)
    assert st["inner"] == pytest.approx(1.0)


def test_spans_record_parent_run_and_write(tmp_path):
    spans = H.Spans("run-1")
    with spans.span("outer"):
        with spans.span("inner", key="k") as s:
            pass
    assert s.seconds >= 0
    outer, inner = spans.records
    assert outer["parent"] is None and inner["parent"] == outer["id"]
    assert inner["run"] == "run-1" and inner["key"] == "k"
    assert inner["end"] >= inner["start"]
    path = tmp_path / "spans.jsonl"
    spans.write(str(path))
    assert [json.loads(line)["name"] for line in path.read_text().splitlines()] == [
        "outer",
        "inner",
    ]


def test_disabled_spans_still_time():
    spans = H.Spans("r", enabled=False)
    with spans.span("x") as s:
        pass
    assert spans.records == [] and s.seconds >= 0


def _task_end(stage, finish, cpu_ns, run_ms, gc_ms, accs=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Info": {"Finish Time": finish, "Accumulables": list(accs)},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": 5,
            "Disk Bytes Spilled": 1,
            "Shuffle Read Metrics": {"Remote Bytes Read": 10, "Local Bytes Read": 20},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
        },
    }


def test_parse_event_log(tmp_path):
    plan = {
        "nodeName": "MapInArrow",
        "metrics": [
            {"name": "data sent to Python workers", "accumulatorId": 1},
            {"name": "data returned from Python workers", "accumulatorId": 2},
            {"name": "number of output rows", "accumulatorId": 3},
        ],
        "children": [
            {
                "nodeName": "Scan parquet",
                "metrics": [{"name": "number of output rows", "accumulatorId": 4}],
                "children": [],
            }
        ],
    }
    events = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        {
            "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "sparkPlanInfo": plan,
        },
        _task_end(1, 1000, 2_000_000_000, 1500, 100, [{"ID": 1, "Update": 64}]),
        _task_end(
            1, 2000, 1_000_000_000, 500, 0,
            [{"ID": 2, "Update": 32}, {"ID": 3, "Update": 4}, {"ID": 4, "Update": 99}],
        ),
        _task_end(2, 3000, 1_000_000_000, 500, 0),
        _task_end(3, 9000, 1_000_000_000, 500, 0),  # outside the window
    ]
    path = tmp_path / "app-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    out = H.parse_event_log(str(path), [(500, 1500), (1800, 5000)])
    assert out["tasks"] == 3
    assert out["stages"] == 2
    assert out["executor_cpu_s"] == pytest.approx(4.0)
    assert out["executor_run_s"] == pytest.approx(2.5)
    assert out["jvm_gc_s"] == pytest.approx(0.1)
    assert out["shuffle_read_bytes"] == 90
    assert out["shuffle_write_bytes"] == 21
    assert out["spill_bytes"] == 18
    assert out["python.data_sent_bytes"] == 64
    assert out["python.data_received_bytes"] == 32
    assert out["python.rows_received"] == 4  # the scan's row count is not a Python node's
    assert H.parse_event_log(str(path), [(1500, 2500)])["tasks"] == 1
    assert H.parse_event_log(str(path))["tasks"] == 4


def test_rss_sampler_sees_this_process():
    s = H.RssSampler()
    s.sample()
    assert s.peak["driver"] > 0
    assert 0 < s.peak["pss"] <= s.peak["driver"] * 1.01


def test_datagen_is_seeded():
    pytest.importorskip("pyarrow")
    import datagen

    a, b = datagen.tables(3, 0.001, 50), datagen.tables(3, 0.001, 50)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(datagen.tables(4, 0.001, 50)["lineitem"])
    rep = datagen.replicate_corpus(a, 2, 3)
    assert rep["documents"].num_rows == 2 * a["documents"].num_rows
    assert rep["embeddings"].equals(datagen.replicate_corpus(a, 2, 3)["embeddings"])


def _feed(n, rate, capacity, overhead_s):
    """Due and read times of ``n`` files fed at ``rate`` files/s to a
    consumer that runs back-to-back micro-batches, each reading every file
    published before it started and taking ``overhead_s`` plus one
    ``1/capacity`` seconds per file."""
    due = [i / rate for i in range(n)]
    done, t, nxt = [None] * n, 0.0, 0
    while nxt < n:
        take = [i for i in range(nxt, n) if due[i] <= t]
        end = t + overhead_s + len(take) / capacity
        for i in take:
            done[i] = end
        nxt += len(take)
        t = end
    return due, done


def test_live_shortfall_passes_a_consumer_that_keeps_up():
    for capacity, overhead_s in ((50.0, 1.0), (20.0, 1.2), (15.0, 0.8)):
        due, done = _feed(100, 10.0, capacity, overhead_s)
        batch_s = overhead_s / (1 - 10.0 / capacity)  # its steady batch time
        assert H.live_shortfall(due, done, due[-1], batch_s, 10.0) is None


def test_live_shortfall_fails_a_half_rate_consumer():
    due = [i / 10.0 for i in range(100)]
    done = [2.0 + i / 5.0 for i in range(100)]  # reads 5 files/s of 10
    why = H.live_shortfall(due, done, due[-1], 1.0, 10.0)
    assert why is not None and "lag grew" in why
    due, done = _feed(100, 10.0, 5.0, 0.5)
    assert H.live_shortfall(due, done, due[-1], 2.0, 10.0) is not None


def test_live_shortfall_fails_unread_files_and_a_stuck_tail():
    due = [i / 10.0 for i in range(100)]
    assert "never read" in H.live_shortfall(due, [1.0] * 99 + [None], 9.9, 1.0, 10.0)
    # every file read, but the last 40 only long after the feed ended
    done = [d + 1.0 for d in due[:60]] + [30.0] * 40
    assert H.live_shortfall(due, done, 9.9, 1.0, 10.0) is not None


def test_slope():
    assert H.slope([0, 1, 2], [1, 3, 5]) == pytest.approx(2.0)
    assert H.slope([1], [1]) == 0.0
