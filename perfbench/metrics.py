"""Pure helpers of the benchmark: latency statistics, Spark SQL-metric
parsing and self time over overlapping intervals. No Spark import, so
the unit tests in ``perfbench/tests`` run without a JVM."""

from __future__ import annotations

import re

#: samples that must lie beyond a reported tail percentile
TAIL_BEYOND = 10

_DURATION_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
           "TiB": 1 << 40, "PiB": 1 << 50}
_TOTAL_PREFIX = "total (min, med, max"


def parse_metric_value(text: str) -> float | None:
    """One Spark SQL-metric display string as a number: durations in
    seconds (``"703 ms"`` -> 0.703), sizes in bytes (``"4.0 MiB"``),
    counts as-is (``"257,868"``). The multi-task form
    ``"total (min, med, max (stageId: taskId))\\n<total> (<min>, ...)"``
    reads its total. Returns None for forms without a total (the
    ``"(min, med, max ...)"`` average metrics) and for text it does not
    recognise."""
    text = text.strip()
    if text.startswith(_TOTAL_PREFIX):
        parts = text.split("\n", 1)
        if len(parts) < 2:
            return None
        text = parts[1].strip()
        text = text.split(" (", 1)[0].strip()
    m = re.fullmatch(r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)(?:\s+([A-Za-z]+))?", text)
    if m is None:
        return None
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return num
    if unit in _DURATION_S:
        return num * _DURATION_S[unit]
    if unit in _SIZE_B:
        return num * _SIZE_B[unit]
    return None


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """``(percentile, value)``: the highest percentile that still has
    at least :data:`TAIL_BEYOND` samples beyond it, by nearest rank.
    With fewer than ``2 * TAIL_BEYOND`` samples that percentile would
    fall at or below the median, so the maximum (percentile 100, the
    slowest operation of the run) is reported instead."""
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    s = sorted(samples)
    if n < 2 * TAIL_BEYOND:
        return 100.0, s[-1]
    rank = n - TAIL_BEYOND  # 1-based nearest rank; n - rank samples beyond it
    return 100.0 * rank / n, s[rank - 1]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float,
              children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part its children cover, with each
    child clipped to the span and overlaps between children counted
    once."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return max(0.0, (end - start) - union_length(clipped))
