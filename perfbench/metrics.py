"""Metric arithmetic shared by the workloads: latency summaries, op
accounting, span self time and peak resident memory."""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass, field

TAIL_BEYOND = 10  # samples that must lie above the reported tail value


def p50(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples above
    it: the value at sorted rank ``n - TAIL_BEYOND`` (1-based).

    Returns ``(value, percentile)``.  With ``TAIL_BEYOND`` samples or
    fewer no such percentile exists; the maximum is returned with
    percentile 100 so the caller can see the rule was not met.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0
    rank = n - TAIL_BEYOND
    return xs[rank - 1], 100.0 * rank / n


@dataclass
class OpRecord:
    kind: str
    start: float
    end: float
    ok: bool
    error: str = ""

    @property
    def latency(self) -> float:
        return self.end - self.start


@dataclass
class OpLog:
    """Every measured op, in order.  An op that raised or whose output
    failed its check is attempted and failed; only successful ops
    contribute latency samples."""

    records: list[OpRecord] = field(default_factory=list)

    def add(self, rec: OpRecord) -> None:
        self.records.append(rec)

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return sum(1 for r in self.records if not r.ok)

    def failed_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    def latencies(self, kinds: tuple[str, ...] | None = None) -> list[float]:
        return [
            r.latency
            for r in self.records
            if r.ok and (kinds is None or r.kind in kinds)
        ]

    def busy_s(self) -> float:
        return sum(r.latency for r in self.records)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span, keyed by span id.

    ``spans`` are dicts with ``id``, ``parent`` (id or None), ``start``
    and ``end``.  A span's self time is the part of its interval during
    which none of its children is running.  Where sibling spans run
    concurrently (worker threads), each instant is shared equally among
    the innermost spans running then, so the self times of one tree
    never sum to more than the wall time it covers.
    """
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append(s["id"])
    points = sorted({s["start"] for s in spans} | {s["end"] for s in spans})
    out = {s["id"]: 0.0 for s in spans}
    for a, b in zip(points, points[1:]):
        mid = (a + b) / 2
        active = [s["id"] for s in spans if s["start"] <= mid < s["end"]]
        act = set(active)
        leaves = [
            i for i in active
            if not any(c in act for c in children.get(i, ()))
        ]
        for i in leaves:
            out[i] += (b - a) / len(leaves)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def child_pids(pid: int) -> list[int]:
    """Direct children of ``pid`` (all of its threads)."""
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for t in tasks:
        try:
            with open(f"/proc/{pid}/task/{t}/children") as f:
                out += [int(x) for x in f.read().split()]
        except OSError:
            continue
    return out
