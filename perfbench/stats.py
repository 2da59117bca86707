"""Pure helpers: summary statistics, host steal parsing and span self time.

No Spark and no program imports, so the self-tests run anywhere.
"""

from __future__ import annotations

import os
import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """The highest of p50/p90/p99/p99.9 with at least ten samples beyond
    it, as ``(p, value)``; None when there are fewer than 20 samples."""
    n = len(values)
    best = None
    for p_milli in (50_000, 90_000, 99_000, 99_900):
        rank = -(-n * p_milli // 100_000)  # nearest rank: ceil(n * p / 100)
        if n - rank >= 10:
            best = (p_milli / 1000, max(rank, 1))
    if best is None:
        return None
    return best[0], float(sorted(values)[best[1] - 1])


def timing_summary(values: list[float]) -> dict:
    """Median plus the percentile rule above, with the sample count and,
    from two samples on, the quartile spread."""
    out: dict = {"n": len(values)}
    if values:
        out["median"] = median(values)
        tail = tail_percentile(values)
        if tail:
            out[f"p{tail[0]:g}"] = tail[1]
    if len(values) >= 2:
        out["spread"] = quartile_spread(values)
    return out


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


def parse_steal_s(proc_stat: str, clk_tck: int | None = None) -> float:
    """Host steal time in seconds, summed over CPUs, from the aggregate
    ``cpu`` line of /proc/stat (8th value: user nice system idle iowait irq
    softirq steal ...)."""
    tck = clk_tck or os.sysconf("SC_CLK_TCK")
    for line in proc_stat.splitlines():
        parts = line.split()
        if parts and parts[0] == "cpu":
            return int(parts[8]) / tck if len(parts) > 8 else 0.0
    raise ValueError("no aggregate cpu line in /proc/stat")


def read_steal_s() -> float:
    try:
        with open("/proc/stat") as fh:
            return parse_steal_s(fh.read())
    except (OSError, ValueError):
        return 0.0


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of [start, end] that its children
    cover; overlapping children count once."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered
