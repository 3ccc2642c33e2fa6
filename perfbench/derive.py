"""Pure derivations behind the benchmark's numbers (no Spark, no I/O
beyond reading a checkpoint directory). Kept apart so they can be tested
on their own: see test_derive.py."""

from __future__ import annotations

import json
import os
import statistics
from collections.abc import Iterable

TAIL_MIN_BEYOND = 10


def median(values: Iterable[float]) -> float:
    return float(statistics.median(list(values)))


def tail(samples: Iterable[float], min_beyond: int = TAIL_MIN_BEYOND) -> dict:
    """The highest percentile with at least `min_beyond` samples above it.

    With n sorted samples that is the order statistic at 0-based index
    n - 1 - min_beyond, reported as percentile 100 * (index + 1) / n. When
    there are too few samples for any such percentile the maximum is
    reported instead, flagged `short`."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("tail of an empty sample")
    i = len(xs) - 1 - min_beyond
    short = i < 0
    if short:
        i = len(xs) - 1
    return {
        "value": float(xs[i]),
        "percentile": round(100.0 * (i + 1) / len(xs), 2),
        "n": len(xs),
        "beyond": len(xs) - 1 - i,
        "short": short,
    }


def prefix_self(totals: list[tuple[str, float]]) -> dict[str, float]:
    """Self cost of each layer from successive plan prefixes.

    `totals` holds (layer, cost of the plan up to and including that layer)
    in plan order; a layer's self cost is its prefix's cost minus the
    previous prefix's. Differences are reported as measured, so noise can
    make a cheap layer read slightly negative."""
    out, prev = {}, 0.0
    for name, total in totals:
        out[name] = total - prev
        prev = total
    return out


def count_failed(outcomes: Iterable[bool]) -> tuple[int, int]:
    """(attempted, failed) over per-operation outcomes (True = correct)."""
    attempted = failed = 0
    for ok in outcomes:
        attempted += 1
        failed += not ok
    return attempted, failed


# ------------------------------------------------- streaming checkpoints


def _log_entries(path: str) -> list[dict]:
    with open(path) as f:
        lines = f.read().splitlines()
    if not lines or not lines[0].startswith("v"):
        raise ValueError(f"not a metadata log file: {path}")
    return [json.loads(line) for line in lines[1:] if line.strip()]


def file_batches(source_log_dir: str) -> dict[str, int]:
    """file name -> batch id, from a file source's metadata log
    (`<checkpoint>/sources/0`). Handles compacted logs: `N.compact` holds
    every entry up to batch N, each carrying its own batchId; plain `N`
    files hold batch N's entries."""
    out: dict[str, int] = {}
    if not os.path.isdir(source_log_dir):
        return out
    for name in os.listdir(source_log_dir):
        stem = name.removesuffix(".compact")
        if name.startswith(".") or not stem.isdigit():
            continue
        for e in _log_entries(os.path.join(source_log_dir, name)):
            batch = int(e.get("batchId", stem))
            out[os.path.basename(e["path"])] = batch
    return out


def commit_times(commits_dir: str) -> dict[int, float]:
    """batch id -> wall-clock time its commit-log entry was written."""
    out: dict[int, float] = {}
    if not os.path.isdir(commits_dir):
        return out
    for name in os.listdir(commits_dir):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(commits_dir, name)).st_mtime
    return out


def freshness(
    visible: dict[str, float], batch_of: dict[str, int], committed: dict[int, float]
) -> tuple[dict[str, float], list[str]]:
    """Per-file latency (visible -> its batch's commit) and the files with
    no commit at all."""
    lat, missing = {}, []
    for name, t in visible.items():
        b = batch_of.get(name)
        if b is None or b not in committed:
            missing.append(name)
        else:
            lat[name] = committed[b] - t
    return lat, sorted(missing)


def backlog_max(visible: dict[str, float], batch_of: dict[str, int],
                batch_start: dict[int, float]) -> int:
    """Longest queue a trigger found: at the start of batch b, the files
    already visible that no earlier batch had taken (batch b's own files
    included; files never taken count as waiting)."""
    best = 0
    for b, t in batch_start.items():
        waiting = sum(
            1
            for name, tv in visible.items()
            if tv <= t and batch_of.get(name, b) >= b
        )
        best = max(best, waiting)
    return best
