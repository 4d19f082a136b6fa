"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import gen  # noqa: E402
from perfbench.stack import cpu_between, thread_cpu_ns  # noqa: E402
from perfbench.stats import (  # noqa: E402
    CLK_TCK, Tracer, beyond, busy_seconds, cpu_ticks, percentile,
    self_times, steal_share, tail_percentile)


def test_percentile_nearest_rank():
    v = list(range(1, 101))  # 1..100
    assert percentile(v, 50) == 50
    assert percentile(v, 99) == 99
    assert percentile(v, 100) == 100
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert beyond(1000, 99) == 10
    assert tail_percentile(1000) == 99
    assert tail_percentile(999) == 95  # p99 would leave only 9 beyond
    assert tail_percentile(100) == 90
    assert tail_percentile(40) == 75
    assert tail_percentile(20) == 50
    assert tail_percentile(19) is None
    for n in (20, 57, 250, 1000, 5000):
        assert beyond(n, tail_percentile(n)) >= 10


def test_cpu_accounting_leaves_out_steal_and_idle():
    assert steal_share((10, 1000, 0), (30, 1400, 0)) == 0.05
    assert steal_share((0, 0, 0), (0, 0, 0)) == 0.0  # no /proc/stat
    assert busy_seconds((0, 0, 100), (0, 0, 100 + 3 * CLK_TCK)) == 3.0
    steal, total, busy = cpu_ticks()
    assert 0 <= steal <= total and 0 <= busy <= total


def test_cpu_between_counts_new_threads_whole_and_drops_gone_ones():
    before = {1: 5_000_000, 2: 1_000_000}
    after = {1: 7_000_000, 3: 500_000}  # 2 exited, 3 started
    assert cpu_between(before, after) == pytest.approx(0.0025)
    import os
    import time

    mine = thread_cpu_ns(os.getpid())
    assert os.getpid() in mine
    t0 = time.thread_time()
    while time.thread_time() - t0 < 0.05:
        pass
    assert cpu_between(mine, thread_cpu_ns(os.getpid())) >= 0.04


def _span(sid, parent, layer, s, e):
    return (sid, parent, None, layer, layer, s, e)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, None, "serve", 0.0, 10.0),
        _span(2, 1, "wand", 1.0, 4.0),
        _span(3, 1, "wand", 3.0, 6.0),   # overlaps span 2 (a pool thread)
        _span(4, 1, "phrase", 8.0, 12.0),  # runs past its parent: clipped
        _span(5, 2, "codec", 2.0, 3.0),
    ]
    own = self_times(spans)
    assert own["serve"] == pytest.approx(10.0 - 5.0 - 2.0)
    assert own["wand"] == pytest.approx((3.0 - 1.0) + 3.0)
    assert own["phrase"] == pytest.approx(4.0)
    assert own["codec"] == pytest.approx(1.0)


def test_tracer_attributes_pool_work_to_the_active_request():
    import threading

    tr = Tracer()
    with tr.request(7, "serve", "search"):
        th = threading.Thread(target=lambda: tr.span("wand", "k").__enter__()
                              .__exit__(None, None, None))
        th.start()
        th.join()
        with tr.span("serve", "inner"):
            pass
    by_name = {s[4]: s for s in tr.spans}
    root = by_name["search"]
    assert root[1] is None and root[2] == 7
    assert by_name["k"][1] == root[0] and by_name["k"][2] == 7
    assert by_name["inner"][1] == root[0]
    with tr.span("serve", "after"):
        pass
    assert {s[4]: s for s in tr.spans}["after"][2] is None


def test_tracer_wrap_is_idempotent():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    tr = Tracer()
    tr.wrap(Owner, "f", "layer")
    tr.wrap(Owner, "f", "layer")
    assert Owner.f(1) == 2
    assert len(tr.spans) == 1


def test_generators_are_deterministic_per_seed():
    a = gen.corpus(5, 0, 40)
    assert a.equals(gen.corpus(5, 0, 40))
    assert not a["text"].equals(gen.corpus(6, 0, 40)["text"])
    for make in (lambda s: gen.take(gen.cold_mix_stream(s, 40), 300),
                 lambda s: gen.take(gen.warm_stream(s), 300),
                 lambda s: gen.spark_calls(s, 12),
                 lambda s: gen.oracle_sample(s)):
        assert make(3) == make(3)
        assert make(3) != make(4)


def test_cold_mix_stream_never_repeats_and_is_half_cheap():
    s = gen.take(gen.cold_mix_stream(1, 4400), 2000)
    keys = {repr(sorted(r.items())) for _c, r in s}
    assert len(keys) == len(s)
    cheap = sum(1 for c, _r in s if c)
    assert 0.48 < cheap / len(s) < 0.52
    assert {r["type"] for c, r in s if not c} == set(gen.HEAVY_KINDS)


def test_warm_stream_fits_the_request_cache():
    s = gen.take(gen.warm_stream(1), 5000)
    assert len({repr(sorted(r.items())) for _c, r in s}) <= 128
