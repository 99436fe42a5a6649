"""Tests of the benchmark's pure parts: record latency, pacing, the
percentile rule, and BENCHMARK.json agreeing with what the runs print.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import pacing
from perfbench.child import END_TO_END, per_layer
from perfbench.measure import percentile, record_latencies, tail_percentile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_record_latency_is_commit_minus_due_time():
    # records 0..4 warm up; 5..14 are paced at 10/s from t0=100
    batches = [(0, 7, 101.0), (7, 12, 101.5), (12, 20, 103.0)]
    lat = record_latencies(batches, lo=5, hi=15, t0=100.0, rate=10.0)
    due = 100.0 + np.arange(10) / 10.0
    commit = np.array([101.0] * 2 + [101.5] * 5 + [103.0] * 3)
    assert np.allclose(lat, commit - due)


def test_record_latency_rejects_lost_or_repeated_records():
    with pytest.raises(ValueError, match="never committed"):
        record_latencies([(0, 8, 1.0)], lo=0, hi=10, t0=0.0, rate=1.0)
    with pytest.raises(ValueError, match="twice"):
        record_latencies([(0, 6, 1.0), (5, 10, 2.0)], lo=0, hi=10, t0=0.0, rate=1.0)


def test_due_count():
    s = {"released": 7, "t0": None}
    assert pacing.due_count(s, 1e9) == 7
    s = {"released": 7, "t0": 100.0, "rate": 10.0, "paced": 30}
    assert pacing.due_count(s, 99.0) == 7
    assert pacing.due_count(s, 100.55) == 12  # floor(0.55 * 10) = 5 more
    assert pacing.due_count(s, 1e9) == 37  # never past the paced count


def _reader(tmp_path, **schedule):
    path = str(tmp_path / "schedule.json")
    pacing.write_schedule(path, **schedule)
    opts = {"n": 100, "shards": 4, "records_per_batch": 10, "schedule": path}
    return pacing.PacedReader(opts), path


def test_pacer_never_advertises_past_the_due_count(tmp_path, monkeypatch):
    r, path = _reader(tmp_path, released=4, t0=None)
    r.initialOffset()
    assert r.latestOffset() == {"index": 4}
    assert r.latestOffset() == {"index": 4}
    now = [1000.0]
    monkeypatch.setattr(pacing.time, "time", lambda: now[0])
    pacing.write_schedule(path, released=4, t0=1000.0, rate=20.0, paced=50)
    seen = []
    for step in range(40):
        now[0] = 1000.0 + step * 0.1
        end = r.latestOffset()["index"]
        due = 4 + min(50, int(step * 0.1 * 20 + 1e-9))
        assert end <= due
        seen.append(end)
    assert seen == sorted(seen) and seen[-1] == 54
    pacing.write_schedule(path, released=100, t0=None)
    # a released backlog still comes out in records_per_batch steps
    assert r.latestOffset() == {"index": 64}


def test_pacer_keeps_the_restart_ratchet(tmp_path):
    r, path = _reader(tmp_path, released=3, t0=None)
    r.initialOffset()
    # after a restart Spark replays the checkpointed batch [0, 30)
    r.partitions({"index": 0}, {"index": 30})
    assert r.latestOffset() == {"index": 30}  # never behind the checkpoint
    r.commit({"index": 35})
    assert r.latestOffset() == {"index": 35}


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50.0
    assert tail_percentile(99) == 50.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9
    for n in (20, 100, 1000, 10_000, 20_000):
        p = tail_percentile(n)
        values = np.arange(n)
        beyond = (values > percentile(values, p)).sum()
        assert beyond >= 10


def test_benchmark_json_lists_what_the_runs_print():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == per_layer()
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
