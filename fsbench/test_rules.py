"""Spark-free tests of the benchmark's own rules and inputs.

    python3 -m pytest fsbench/test_rules.py -q
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import rules  # noqa: E402


def _ledger(round_size, rows):
    led = rules.Ledger(round_size)
    for kind, rnd, ms in rows:
        led.add(kind, rnd, ms)
    return led


def test_per_kind_medians_are_per_kind():
    ops = _ledger(3, [("a", 0, 1.0), ("a", 0, 3.0), ("a", 1, 100.0), ("b", 0, 7.0)]).ops
    assert rules.per_kind_medians(ops) == {"a": 3.0, "b": 7.0}


def test_weighted_geomean_uses_normalised_shares():
    vals = {"get": 10.0, "scan": 1000.0}
    assert rules.weighted_geomean(vals, {"get": 1, "scan": 1}) == pytest.approx(100.0)
    # shares 3:1 -> 10^(3/4) * 1000^(1/4)
    assert rules.weighted_geomean(vals, {"get": 3, "scan": 1}) == pytest.approx(
        math.exp(0.75 * math.log(10) + 0.25 * math.log(1000)))
    # kinds without a share, or shares without a value, are ignored
    assert rules.weighted_geomean({**vals, "x": 5.0}, {"get": 1, "y": 9}) == pytest.approx(10.0)


def test_mix_metric_ignores_how_many_of_each_kind_ran():
    # same per-kind latencies, different sampled composition -> same value
    few = _ledger(1, [("get", 0, 10.0), ("scan", 1, 1000.0)])
    many = _ledger(1, [("get", i, 10.0) for i in range(9)] + [("scan", 9, 1000.0)])
    shares = {"get": 1, "scan": 1}
    a = rules.weighted_geomean(rules.per_kind_medians(few.ops), shares)
    b = rules.weighted_geomean(rules.per_kind_medians(many.ops), shares)
    assert a == b


def test_only_whole_rounds_count():
    led = _ledger(2, [("a", 0, 1.0), ("b", 0, 1.0), ("a", 1, 1.0), ("b", 1, 3.0),
                      ("a", 2, 50.0)])
    assert led.whole_rounds() == [0, 1]
    assert all(op.round in (0, 1) for op in led.counted())
    assert rules.per_kind_medians(led.counted())["a"] == 1.0


def test_ops_per_s_is_share_weighted_over_median_round():
    # per-op time of a round is the share-weighted mean of its kinds' means:
    # round 0: 0.75*500 + 0.25*1500 = 750 ms, round 1: 0.75*400 + 0.25*1100
    # = 575 ms, round 2 (stalled): 5000 ms; round 3 is not whole
    led = _ledger(3, [("a", 0, 400.0), ("a", 0, 600.0), ("b", 0, 1500.0),
                      ("a", 1, 400.0), ("a", 1, 400.0), ("b", 1, 1100.0),
                      ("a", 2, 5000.0), ("a", 2, 5000.0), ("b", 2, 5000.0),
                      ("a", 3, 1.0)])
    shares = {"a": 3, "b": 1}
    assert rules.ops_per_s(led, shares) == pytest.approx(1000.0 / 750.0)
    # a kind without a share does not count
    for r in range(3):
        led.add("c", r, 1e6)
    led.round_size = 4
    assert rules.ops_per_s(led, shares) == pytest.approx(1000.0 / 750.0)
    with pytest.raises(ValueError):
        rules.ops_per_s(_ledger(2, [("a", 0, 1.0)]), shares)


@pytest.mark.parametrize("n,expect", [
    (19, None),         # p50 has only 9 samples beyond it
    (20, 50.0),         # p50: 10 beyond
    (99, 50.0),         # p90 rank 90 leaves 9 beyond
    (100, 90.0),        # p90 rank 90 leaves 10 beyond
    (999, 90.0),        # p99 rank 990 leaves 9 beyond
    (1000, 99.0),
])
def test_tail_needs_ten_samples_beyond(n, expect):
    xs = [float(i) for i in range(1, n + 1)]
    got = rules.tail(xs)
    if expect is None:
        assert got is None
    else:
        p, value, count = got
        assert (p, count) == (expect, n)
        assert value == xs[math.ceil(p / 100 * n) - 1]
        assert sum(1 for x in xs if x > value) >= 10


def test_fail_ratio_counts_wrong_results():
    led = _ledger(2, [("q1", 0, 1.0), ("q2", 0, 1.0), ("q1", 1, 1.0), ("q2", 1, 1.0)])
    led.ops[1].ok = False  # an operation that raised
    assert rules.fail_counts(led.ops) == (4, 1)
    led.fail_where(lambda op: op.kind == "q1")  # a post-window check found q1 wrong
    assert rules.fail_counts(led.ops) == (4, 3)


def test_same_seed_gives_byte_identical_inputs():
    small = inputs.Scale(events=300, users=20, days=5, customers=10, suppliers=3,
                         parts=5, orders=30, lineitems=60, documents=12, embeddings=12)
    a = inputs.tables_digest(inputs.make_tables(7, small))
    assert a == inputs.tables_digest(inputs.make_tables(7, small))
    assert a != inputs.tables_digest(inputs.make_tables(8, small))
    r = inputs.requests_digest(7, 3, users=50, days=30)
    assert r == inputs.requests_digest(7, 3, users=50, days=30)
    assert r != inputs.requests_digest(8, 3, users=50, days=30)


def test_written_parquet_is_byte_identical(tmp_path):
    small = inputs.Scale(events=100, users=5, days=3, customers=5, suppliers=2,
                         parts=3, orders=10, lineitems=20, documents=4, embeddings=4)
    for d in ("a", "b"):
        inputs.write_tables(inputs.make_tables(3, small), str(tmp_path / d))
    for name in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()


def test_every_round_has_every_kind_in_its_share():
    for r in range(5):
        ops = inputs.serving_round(1, r, users=100, days=30)
        counts = {}
        for op in ops:
            counts[op[0]] = counts.get(op[0], 0) + 1
        assert counts == inputs.SERVING_ROUND
    # every kind with a share in the mix metrics is sampled in every round
    assert set(inputs.SERVING_SHARES) <= set(inputs.SERVING_ROUND)
    assert sum(inputs.SERVING_SHARES.values()) == 100


def test_events_have_unique_timestamps_and_stream_stays_inside_watermark():
    ev = inputs.make_tables(5, inputs.Scale(events=500, users=10, days=2))["events"]
    ts = ev.column("ts").to_pylist()
    assert len(set(ts)) == len(ts)
    assert inputs.STREAM_JITTER_MS < 5000  # WATERMARK_DELAY of the pipeline
    lines = inputs.stream_batch_lines(5, 0)
    assert len(lines) == inputs.STREAM_ROWS_PER_BATCH
    assert lines == inputs.stream_batch_lines(5, 0)
