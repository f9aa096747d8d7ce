"""Tests of the benchmark's own metric math (no Spark needed).

Run: python3 -m pytest perfbench/test_metrics.py -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from metrics import (OpLedger, latency_growth, least_stolen,  # noqa: E402
                     quantile, self_time, spread, tail_percentile,
                     union_length)
from tracing import Tracer, layer_table  # noqa: E402


def test_quantile_interpolates_inside_range():
    assert quantile([1, 2, 3, 4, 5], 0.5) == 3
    assert quantile([1, 2, 3, 4], 0.5) == 2.5
    assert quantile([7], 0.9) == 7
    assert quantile([0, 10], 0.9) == pytest.approx(9.0)


def test_tail_rule_picks_highest_percentile_with_ten_beyond():
    xs = list(range(1, 101))  # 100 samples
    # p90 = 90.1 leaves 10 samples (91..100) beyond; p95 leaves only 5
    pct, v, n = tail_percentile(xs)
    assert (pct, n) == (90.0, 100)
    assert v == pytest.approx(90.1)
    assert sum(1 for x in xs if x > v) == 10


def test_tail_rule_small_sample_falls_back_and_none():
    pct, _, n = tail_percentile(list(range(1, 41)))   # 40 samples
    assert (pct, n) == (75.0, 40)
    assert tail_percentile(list(range(1, 11))) == (None, None, 10)
    assert tail_percentile([]) == (None, None, 0)


def test_tail_rule_counts_strictly_beyond():
    # ties at the percentile value are not "beyond" it
    xs = [1.0] * 50 + [2.0] * 9
    pct, _, _ = tail_percentile(xs)
    assert pct is None


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([]) == 0
    assert union_length([(3, 3)]) == 0


def test_self_time_subtracts_union_of_overlapping_children():
    # four concurrent children like the incremental stage appends:
    # summing their durations (2+2+2+1 = 7) would exceed the parent
    children = [(1, 3), (1, 3), (2, 4), (5, 6)]
    assert self_time(0, 10, children) == 10 - 4
    # children sticking out of the parent are clipped to it
    assert self_time(0, 4, [(-1, 1), (3, 9)]) == 2
    assert self_time(0, 4, []) == 4


def test_latency_growth_on_synthetic_series():
    flat = [2.0] * 12
    assert latency_growth(flat) == 1.0
    linear = [1.0 + 0.1 * i for i in range(12)]  # quarters of 3
    first, last = sum(linear[:3]) / 3, sum(linear[-3:]) / 3
    assert latency_growth(linear) == pytest.approx(last / first)
    assert latency_growth([1.0, 3.0]) == 3.0
    assert latency_growth([5.0]) is None


def test_spread_is_iqr_over_median():
    assert spread([10.0] * 10) == 0.0
    import statistics
    xs = [9.0, 10.0, 10.0, 11.0, 12.0, 8.0, 10.5, 9.5, 10.0, 11.5]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert spread(xs) == pytest.approx((q3 - q1) / statistics.median(xs))


def test_ledger_error_rate_bookkeeping():
    led = OpLedger()
    assert led.error_rate == 0.0
    for i in range(4):
        led.record(f"op{i}", True)
    led.record("op4", False)           # the op raised
    assert (led.attempted, led.failed) == (5, 1)
    led.fail("op2")                    # its output check failed later
    assert led.error_rate == pytest.approx(2 / 5)
    led.fail("op4")                    # failing twice counts once
    assert led.failed == 2
    with pytest.raises(KeyError):
        led.record("op0", True)
    with pytest.raises(KeyError):
        led.fail("nope")


def test_tracer_links_parents_across_thread_pool():
    from concurrent.futures import ThreadPoolExecutor

    tr = Tracer()
    tr.enabled = True
    with tr.propagate_to_threads():
        with tr.op("op0"), tr.span("incremental.run_once"):
            def stage(i):
                with tr.span("io.tableio.append", table=f"t{i}"):
                    pass
            with ThreadPoolExecutor(max_workers=4) as pool:
                for f in [pool.submit(stage, i) for i in range(4)]:
                    f.result()
    root = next(s for s in tr.spans if s.name == "incremental.run_once")
    kids = [s for s in tr.spans if s.name == "io.tableio.append"]
    assert len(kids) == 4
    assert all(s.parent == root.id and s.op == "op0" for s in kids)


def test_layer_table_self_time_and_disabled_tracer():
    tr = Tracer()
    with tr.span("off"):
        pass
    assert tr.spans == []              # disabled: nothing recorded
    tr.enabled = True
    from tracing import Span
    tr.spans = [Span(1, None, "a", 0.0, 10.0, "op0", {}),
                Span(2, 1, "b", 1.0, 3.0, "op0", {}),
                Span(3, 1, "b", 2.0, 4.0, "op0", {})]
    rows = {r["layer"]: r for r in layer_table(tr.spans)}
    assert rows["a"]["busy_s"] == 10.0 and rows["a"]["self_s"] == 7.0
    assert rows["b"]["busy_s"] == 4.0 and rows["b"]["self_s"] == 4.0
    assert rows["b"]["calls"] == 2


def test_least_stolen_keeps_run_order_and_earlier_ties():
    ops = [{"op": f"op{i}", "steal": x}
           for i, x in enumerate([0.05, 0.0, 0.13, 0.01, 0.0, 0.01])]
    assert [o["op"] for o in least_stolen(ops, 4)] == [
        "op1", "op3", "op4", "op5"]
    assert [o["op"] for o in least_stolen(ops, 2)] == ["op1", "op4"]
    assert least_stolen(ops[:3], 4) == ops[:3]
