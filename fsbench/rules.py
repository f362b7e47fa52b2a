"""The benchmark's measurement rules, kept Spark-free so they are unit-tested.

- Per-kind medians: every operation kind gets its own median, and a mix is
  summarised by the share-weighted geometric mean of those medians, so a run
  that happened to sample a different mix of kinds reads the same.
- Whole rounds: every metric is counted over whole rounds (or passes)
  only; a round missing operations is dropped. A window runs at least
  ``MIN_ROUNDS`` rounds, so every kind has that many samples.
- Tails: the highest percentile with at least ten samples beyond it,
  printed with its sample count; not a metric of record.
- Fail ratio: failed operations, wrong results included, over attempted.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

MIN_ROUNDS = 5


@dataclass
class Op:
    """One measured operation."""

    kind: str
    round: int
    ms: float
    ok: bool = True
    traced: bool = False


@dataclass
class Ledger:
    """Every operation of a window, in completion order, plus the rounds
    that finished inside it."""

    round_size: int
    ops: list[Op] = field(default_factory=list)

    def add(self, kind: str, rnd: int, ms: float, ok: bool = True,
            traced: bool = False) -> Op:
        op = Op(kind, rnd, ms, ok, traced)
        self.ops.append(op)
        return op

    def whole_rounds(self) -> list[int]:
        """Rounds with all ``round_size`` operations recorded."""
        counts: dict[int, int] = {}
        for op in self.ops:
            counts[op.round] = counts.get(op.round, 0) + 1
        return sorted(r for r, n in counts.items() if n == self.round_size)

    def counted(self) -> list[Op]:
        """The operations of whole rounds: the only ones any metric uses."""
        keep = set(self.whole_rounds())
        return [op for op in self.ops if op.round in keep]

    def fail_where(self, pred) -> None:
        """Mark as failed every operation ``pred`` selects (a post-window
        check found the state those operations produced wrong)."""
        for op in self.ops:
            if pred(op):
                op.ok = False


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def per_kind_medians(ops: list[Op]) -> dict[str, float]:
    by_kind: dict[str, list[float]] = {}
    for op in ops:
        by_kind.setdefault(op.kind, []).append(op.ms)
    return {k: median(v) for k, v in sorted(by_kind.items())}


def weighted_geomean(values: dict[str, float], shares: dict[str, float]) -> float:
    """exp(sum w_k ln v_k) with the shares of ``values``' kinds normalised
    to sum to one."""
    kinds = [k for k in shares if k in values]
    if not kinds:
        raise ValueError("no kind has both a value and a share")
    total = sum(shares[k] for k in kinds)
    return math.exp(sum(shares[k] / total * math.log(values[k]) for k in kinds))


def ops_per_s(ledger: Ledger, shares: dict[str, float]) -> float:
    """Operations completed per second of whole rounds, at the mix's shares.

    Each whole round's time per operation is the share-weighted mean of its
    kinds' mean latencies: the wall time the round would have taken per
    operation had it carried the shares, with the result checks between
    operations left out. The rate is one over the median of that across
    rounds, so one round slowed by a host stall moves it no more than any
    other round. Kinds without a share do not count."""
    per_round: dict[int, dict[str, list[float]]] = {}
    for op in ledger.counted():
        per_round.setdefault(op.round, {}).setdefault(op.kind, []).append(op.ms)
    if not per_round:
        raise ValueError("no whole round in the window")
    times = []
    for kinds in per_round.values():
        ks = [k for k in shares if k in kinds]
        total = sum(shares[k] for k in ks)
        times.append(sum(shares[k] / total * statistics.fmean(kinds[k]) for k in ks))
    return 1000.0 / median(times)


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """(percentile, value, n): the highest of p50/p90/p99/p99.9 that still
    has at least ``beyond`` samples above it, its value (nearest rank) and
    the sample count. None when even p50 has fewer than ``beyond`` above."""
    n = len(xs)
    s = sorted(xs)
    best = None
    for p in (50.0, 90.0, 99.0, 99.9):
        rank = math.ceil(p / 100.0 * n)  # 1-based nearest rank
        if rank < 1 or n - rank < beyond:
            break
        best = (p, s[rank - 1], n)
    return best


def fail_counts(ops: list[Op]) -> tuple[int, int]:
    """(attempted, failed) over ``ops``."""
    return len(ops), sum(1 for op in ops if not op.ok)

