"""Metric math shared by the benchmark's workloads.  Pure Python: no
Spark, so ``perfbench/tests`` checks it without a session."""

from __future__ import annotations

import json
import math
import os
import statistics

#: percentiles the reporting rule may pick, lowest first
PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def percentile_rule(samples: list[float], beyond: int = 10):
    """The highest percentile in ``PERCENTILES`` that leaves at least
    ``beyond`` samples above it, as ``(percentile, value, n)``; ``None``
    when even the median lacks that many (fewer than ``2 * beyond``
    samples).  Nearest-rank: the value at percentile q is the
    ``ceil(q/100 * n)``-th smallest sample."""
    xs = sorted(samples)
    n = len(xs)
    best = None
    for q in PERCENTILES:
        rank = max(1, math.ceil(q / 100 * n))
        if n - rank >= beyond:
            best = (q, xs[rank - 1], n)
    return best


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    end = -math.inf
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def clip(iv: tuple[float, float], lo: float, hi: float):
    a, b = max(iv[0], lo), min(iv[1], hi)
    return (a, b) if b > a else None


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: duration minus the part of its interval
    that its direct children cover (children may overlap each other)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        covered = [
            c for c in (clip(iv, s["t0"], s["t1"]) for iv in kids.get(s["id"], []))
            if c
        ]
        out[s["id"]] = (s["t1"] - s["t0"]) - union_length(covered)
    return out


def failure_ratio(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("failure ratio needs at least one attempted op")
    return failed / attempted


def file_batches(checkpoint_dir: str, source: int = 0) -> dict[str, int]:
    """Input file path → the micro-batch id that read it, from a file
    stream's checkpoint log ``sources/<source>/``.  Each log file is a
    ``v1`` header line followed by one JSON entry per file
    (``{"path", "timestamp", "batchId"}``); ``<n>.compact`` files carry
    every entry up to batch n."""
    log_dir = os.path.join(checkpoint_dir, "sources", str(source))
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        with open(os.path.join(log_dir, name)) as fh:
            lines = fh.read().splitlines()
        for line in lines[1:]:
            if line.strip():
                entry = json.loads(line)
                out[entry["path"]] = int(entry["batchId"])
    return out

