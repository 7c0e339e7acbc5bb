"""Percentiles, the tail rule, span self time and failure counting."""

import threading

import pytest

from perfbench.stats import Span, Tally, Tracer, covered, percentile, self_times, tail


def test_percentile_is_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 50) == 3
    assert percentile(xs, 100) == 5
    assert percentile(xs, 1) == 1
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize("n,p", [(19, None), (20, 50.0), (39, 50.0), (40, 75.0),
                                 (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0)])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, p):
    xs = list(range(n))
    t = tail(xs)
    if p is None:
        assert t is None
        return
    got_p, value, count = t
    assert got_p == p and count == n
    assert sum(1 for x in xs if x > value) >= 10
    assert value == percentile(xs, p)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("a", "batch", None, "op1", 0.0, 10.0),
        Span("b", "extraction", "a", "op1", 1.0, 4.0),
        Span("c", "merge", "a", "op1", 3.0, 6.0),  # overlaps b
        Span("d", "merge.read", "c", "op1", 3.5, 4.5),
        Span("e", "late", "a", "op1", 9.0, 12.0),  # runs past its parent
    ]
    st = self_times(spans)
    assert st["a"] == pytest.approx(10.0 - (5.0 + 1.0))
    assert st["b"] == pytest.approx(3.0)
    assert st["c"] == pytest.approx(2.0)
    assert st["d"] == pytest.approx(1.0)


def test_covered_merges_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == pytest.approx(1.0)
    assert covered([], 0, 1) == 0.0


def test_tracer_nests_per_thread_and_calls_hooks():
    clock = iter(range(100)).__next__
    seen = []
    tr = Tracer(on_enter=lambda s: seen.append(("in", s.name)),
                on_exit=lambda s, parent: seen.append(("out", s.name, parent and parent.name)),
                clock=clock)
    with tr.span("op", "op7"):
        with tr.span("search") as inner:
            pass
    outer = [s for s in tr.spans if s.name == "op"][0]
    assert inner.parent == outer.id and inner.op_id == "op7"
    assert seen == [("in", "op"), ("in", "search"), ("out", "search", "op"), ("out", "op", None)]

    def worker():
        with tr.span("other"):
            pass

    with tr.span("op2"):
        t = threading.Thread(target=worker)
        t.start()
        t.join(timeout=10)
    assert not t.is_alive()
    other = [s for s in tr.spans if s.name == "other"][0]
    assert other.parent is None  # spans nest per thread, not across


def test_tally_counts_failures_against_attempts():
    t = Tally()
    for ok in (True, True, False, True):
        t.record("search", ok, None if ok else "boom")
    t.record("upsert", True)
    assert t.total_attempted == 5 and t.total_failed == 1
    assert t.failed_frac == pytest.approx(0.2)
    t.fail_check("search", "wrong top-k")  # found wrong after the loop
    assert t.total_failed == 2 and t.errors == ["search: boom", "search: wrong top-k"]


def test_tally_failed_never_exceeds_attempted():
    t = Tally()
    t.record("batch", True)
    for _ in range(5):
        t.fail_check("batch", "doc mismatch")
    assert t.total_failed == 1 and t.failed_frac == 1.0


def test_tally_is_thread_safe():
    t = Tally()

    def hammer():
        for _ in range(2000):
            t.record("op", True)

    threads = [threading.Thread(target=hammer) for _ in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=30)
    assert not any(th.is_alive() for th in threads)
    assert t.total_attempted == 16000
