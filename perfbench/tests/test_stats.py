"""Tests for the benchmark's own arithmetic (run: python3 -m pytest perfbench/tests)."""

from perfbench import stats


def test_best_times_takes_each_querys_minimum():
    passes = [{"a": 3.0, "b": 1.0}, {"a": 2.0, "b": 4.0}, {"b": 0.5}]
    assert stats.best_times(passes) == {"a": 2.0, "b": 0.5}
    assert stats.best_times([]) == {}


def test_tail_keeps_ten_samples_beyond():
    samples = list(range(1, 31))  # 30 samples
    value, pct, beyond = stats.tail(samples)
    assert (pct, beyond) == (66, 10)
    assert value == 20
    assert sum(s > value for s in samples) == beyond


def test_tail_picks_p99_when_samples_allow():
    value, pct, beyond = stats.tail(range(2000))
    assert pct == 99 and beyond == 20 and value == 1979


def test_tail_is_order_independent():
    assert stats.tail([5, 1, 4, 2, 3] * 4) == stats.tail(sorted([5, 1, 4, 2, 3] * 4))


def test_tail_needs_more_than_ten_samples():
    assert stats.tail(range(10)) is None
    value, pct, beyond = stats.tail(range(11))
    assert beyond == 10 and value == 0 and pct == 9


def test_self_time_subtracts_overlapping_children_once():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps 2
        {"id": 4, "parent": 1, "start": 9.0, "end": 12.0},  # runs past the parent
        {"id": 5, "parent": 2, "start": 2.0, "end": 3.0},
    ]
    self_t = stats.self_times(spans)
    assert self_t[1] == 10.0 - 5.0 - 1.0
    assert self_t[2] == 2.0
    assert self_t[3] == 3.0
    assert self_t[5] == 1.0


def test_failed_frac_counts_raised_and_mismatch():
    outcomes = ["ok"] * 6 + ["raised", "mismatch"]
    assert stats.failed_frac(outcomes) == 2 / 8
    assert stats.failed_frac(["ok", "ok"]) == 0.0
    assert stats.failed_frac([]) == 0.0


def test_failed_frac_counts_oracle_mismatch_and_raise():
    from perfbench.oracle import compare

    cols, types = ["k", "v"], {"k": "int", "v": "float"}
    same = compare(cols, [(1, 0.5), (2, 1.5)], types, ["v", "k"], [(1.5, 2), (0.5, 1)], types)
    off = compare(cols, [(1, 0.5)], types, cols, [(1, 0.5000000000000001)], types)
    short = compare(cols, [(1, 0.5)], types, cols, [], types)
    retyped = compare(cols, [(1, 0.5)], types, cols, [(1, 0.5)], {"k": "decimal", "v": "float"})
    assert same is None
    assert off and short and retyped
    outcomes = ["ok" if d is None else "mismatch" for d in (same, off)] + ["raised"]
    assert stats.failed_frac(outcomes) == 2 / 3
