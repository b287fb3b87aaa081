"""Self-tests of the benchmark's own helpers (no Spark):

    python3 -m pytest argobench -q
"""

from __future__ import annotations

import json
import statistics

import pytest

from argobench import inputs, stats
from argobench.tracing import Span, read_event_log, self_time


def _spread(values) -> float:
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def test_stratified_work_is_seed_invariant():
    """Ten seeds move values and positions, not the amount of work: files,
    profiles and kept profiles are exact, levels and pairs spread <= 2%."""
    rows = []
    for seed in range(701, 711):
        base, _ = inputs.draw_floats(seed)
        rows.append(inputs.work_counters(base, (-180.0, 180.0, -80.0, 80.0), 10.0, 20.0))
    for key in ("files", "profiles", "kept"):
        assert len({r[key] for r in rows}) == 1, key
    for key in ("levels", "pairs"):
        assert _spread([r[key] for r in rows]) <= 0.02, key
    # the seed still changes the data
    assert len({r["pairs"] for r in rows}) > 1


def test_arrivals_are_disjoint_from_base_and_fixed_size():
    base, arrivals = inputs.draw_floats(3, arrivals=True)
    assert len(base) == inputs.BASE_CELLS[0] * inputs.BASE_CELLS[1]
    assert len(arrivals) == inputs.ARRIVAL_CELLS[0] * inputs.ARRIVAL_CELLS[1]
    assert not {f.wmo for f in base} & {f.wmo for f in arrivals}
    for f in base + arrivals:
        assert len(f.profiles) == inputs.PROFILES_PER_FILE
        assert abs(f.lat0) < inputs.MAX_ABS_LAT


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = list(range(1, 101))           # 100 samples
    assert stats.tail(xs) == (90.0, 90.0)   # p95 would leave 5 beyond
    assert stats.tail(list(range(99))) == (70.0, 69.0)
    assert stats.tail(list(range(34))) == (70.0, 23.0)
    assert stats.tail(list(range(33))) == (50.0, 16.0)
    pct, v = stats.tail(list(range(19)))     # too few for any tail
    assert pct != pct and v != v


def test_arrival_bookkeeping_on_a_synthetic_timeline():
    # a lands at 0, b at 1 while batch 1 (a) runs 0.5-3; b waits to 3.2
    arrivals = [stats.Arrival("a", 0.0, 0.01), stats.Arrival("b", 1.0, 1.02)]
    batches = [stats.Batch(0.5, 3.0, frozenset({"a"})),
               stats.Batch(3.2, 5.0, frozenset({"b"}))]
    out = stats.arrival_stats(arrivals, batches, (0.0, 10.0))
    assert out.latency == {"a": 3.0, "b": 4.0}
    assert out.detect == {"a": 0.5, "b": pytest.approx(2.2)}
    assert out.queue == {"a": 0.0, "b": pytest.approx(2.0)}   # behind batch 1 until 3.0
    assert out.backlog_max == 2                                # both unpublished at 1.02-3.0
    assert out.busy_ratio == pytest.approx((2.5 + 1.8) / 10.0)
    assert out.lag_max == pytest.approx(0.02)


def test_unpublished_arrival_is_not_charged():
    out = stats.arrival_stats([stats.Arrival("x", 0.0, 0.0)], [], (0.0, 1.0))
    assert out.latency == {} and out.backlog_max == 0


def test_memory_sampler_reports_peak_of_sum_not_sum_of_peaks():
    # two processes peak at different instants: 10+1 then 1+10
    timeline = iter([{1: 10, 2: 1}, {1: 1, 2: 10}, {1: 5, 2: 5}])
    current = {}

    def tree(root):
        current.clear()
        current.update(next(timeline))
        return list(current)

    s = stats.MemorySampler(lambda: [1], read_rss=lambda p: current[p], tree=tree)
    for _ in range(3):
        s.sample()
    assert s.peak_bytes == 11  # not 20
    assert stats.peak_of_sum([{1: 3}, {1: 2, 2: 2}]) == 4


def test_self_time_subtracts_union_of_children():
    parent = Span(1, "p", 0.0, 10.0, None, 0, "t", True)
    kids = [Span(2, "a", 1.0, 4.0, 1, 0, "t", True), Span(3, "b", 3.0, 5.0, 1, 0, "t", True),
            Span(4, "c", 9.0, 12.0, 1, 0, "t", True)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0)


def test_event_log_attributes_tasks_to_span_groups(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "span-7"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 1500, "JVM GC Time": 100, "Memory Bytes Spilled": 5,
            "Disk Bytes Spilled": 0, "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 999}},
    ]
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = read_event_log(str(tmp_path))
    assert got == {7: {"jobs": 1, "tasks": 1, "task_s": 1.5, "shuffle_bytes": 64,
                       "spill_bytes": 5, "gc_s": 0.1}}


def test_gate_model_matches_generator_pathologies():
    import numpy as np

    pres = np.arange(0.0, 400.0, 10.0, dtype="f4")
    good = np.ones(pres.shape, "i1")
    assert inputs.passes_gates(pres, good)
    assert not inputs.passes_gates(pres, np.where(np.arange(40) < 4, 1, 4).astype("i1"))
    dup = pres.copy()
    dup[5] = dup[4]
    dup[7] = dup[6] - 1.0
    assert not inputs.passes_gates(dup, good)
