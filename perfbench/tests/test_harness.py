"""Tests of the harness's own arithmetic (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from harness import Span, Tracer, self_time_by_name, self_times, tail_percentile, union_length  # noqa: E402


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 1001))  # 1..1000
    t = tail_percentile(xs)
    # p99.9 would leave 1 sample beyond, p99 leaves exactly 10
    assert t == {"value": 990, "percentile": 99.0, "samples": 1000, "beyond": 10}


def test_tail_percentile_steps_down_with_fewer_samples():
    t = tail_percentile(range(100))
    assert t["percentile"] == 90.0 and t["beyond"] == 10 and t["value"] == 89
    t = tail_percentile(range(40))
    assert t["percentile"] == 75.0 and t["beyond"] == 10 and t["value"] == 29
    t = tail_percentile(range(20))
    assert t["percentile"] == 50.0 and t["beyond"] == 10 and t["samples"] == 20


def test_tail_percentile_none_below_twenty_samples():
    assert tail_percentile(range(19)) is None
    assert tail_percentile([]) is None


def test_tail_percentile_ignores_input_order():
    xs = [5.0, 1.0, 9.0, 3.0] * 10
    assert tail_percentile(xs) == tail_percentile(sorted(xs))


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def _span(name, start, end, sid, parent):
    return Span(name, float(start), float(end), sid, parent, 1)


def test_self_time_counts_overlapping_siblings_once():
    # a replay of 10 s with two pipelined batches (inflight=2) that
    # overlap on [3, 5]: children cover [1, 7], so the replay's own
    # time is 10 - 6 = 4 s, not 10 - 8
    spans = [
        _span("streaming.replay", 0, 10, 1, None),
        _span("sinks.snapshot.apply_batch", 1, 5, 2, 1),
        _span("sinks.snapshot.apply_batch", 3, 7, 3, 1),
    ]
    st = self_times(spans)
    assert st == {1: 4.0, 2: 4.0, 3: 4.0}
    assert self_time_by_name(spans) == {"streaming.replay": 4.0, "sinks.snapshot.apply_batch": 8.0}


def test_self_time_clips_children_to_parent_and_nests():
    spans = [
        _span("root", 0, 4, 1, None),
        _span("child", 3, 6, 2, 1),  # runs past its parent's end
        _span("grandchild", 3, 4, 3, 2),
    ]
    st = self_times(spans)
    assert st[1] == 3.0  # only [3, 4] of the child lies inside root
    assert st[2] == 2.0
    assert st[3] == 1.0


def test_tracer_parents_pool_threads_to_ambient_span():
    tr = Tracer(True)
    with tr.span("streaming.replay", ambient=True) as root:
        def work():
            with tr.span("sinks.snapshot.apply_batch"):
                time.sleep(0.01)
        ts = [threading.Thread(target=work) for _ in range(2)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=10)
        assert not any(t.is_alive() for t in ts)
        with tr.span("sinks.snapshot.committed"):
            pass
    kids = [s for s in tr.spans if s.name != "streaming.replay"]
    assert len(kids) == 3
    assert all(s.parent == root.id and s.trace == root.id for s in kids)
    assert tr.overhead_s > 0


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x") as sp:
        assert sp is None
    tr.charge(1.0)
    assert tr.spans == [] and tr.overhead_s == 0.0


def test_benchmark_json_matches_the_metrics_run_prints():
    import run

    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
