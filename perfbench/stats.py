"""Pure arithmetic the benchmark reports with: the tail-percentile rule,
failure accounting, and interval unions for self time and driver gap.
Nothing here imports Spark, so the rules are testable on their own."""

from __future__ import annotations

import re
from collections.abc import Iterable, Sequence
from dataclasses import dataclass

# metric and workload names: a letter or digit first, then at most 63
# more of [A-Za-z0-9_.-]
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# the percentiles op_tail_s may report, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


@dataclass(frozen=True)
class Tail:
    percentile: float  # 100.0 means the maximum: too few samples for any rung
    value: float
    samples: int
    beyond: int  # samples strictly above the reported rank


def tail(values: Sequence[float]) -> Tail:
    """The highest ladder percentile with at least ``MIN_BEYOND`` samples
    beyond it, by nearest rank. With fewer than ``2 * MIN_BEYOND``
    samples no rung qualifies and the maximum is reported instead."""
    if not values:
        raise ValueError("tail of no values")
    s = sorted(values)
    n = len(s)
    for p in TAIL_LADDER:
        rank = -(-round(p * 10) * n // 1000)  # ceil(p% of n), in integers
        if n - rank >= MIN_BEYOND:
            return Tail(p, s[rank - 1], n, n - rank)
    return Tail(100.0, s[-1], n, 0)


@dataclass
class Outcomes:
    """Operations attempted, and those that errored or answered wrongly."""

    attempted: int = 0
    errored: int = 0
    wrong: int = 0

    def record(self, ok: bool, errored: bool) -> None:
        """One finished operation: ``errored`` if it raised or the
        request failed, else ``ok`` says whether its answer was right."""
        self.attempted += 1
        if errored:
            self.errored += 1
        elif not ok:
            self.wrong += 1

    @property
    def failed(self) -> int:
        return self.errored + self.wrong

    @property
    def completed(self) -> int:
        """Operations that returned an answer, right or wrong: a wrong
        answer still did the work, so its latency is a sample."""
        return self.attempted - self.errored

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


Interval = tuple[float, float]


def union_length(intervals: Iterable[Interval], clip: Interval | None = None) -> float:
    """Total length covered by ``intervals``, optionally clipped to
    ``clip``; overlaps count once."""
    spans = []
    for a, b in intervals:
        if clip is not None:
            a, b = max(a, clip[0]), min(b, clip[1])
        if b > a:
            spans.append((a, b))
    spans.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def gap(outer: Interval, inner: Iterable[Interval]) -> float:
    """``outer``'s length minus the part the ``inner`` intervals cover:
    a span's self time given its children, or an operation's driver gap
    given its Spark jobs."""
    return (outer[1] - outer[0]) - union_length(inner, clip=outer)
