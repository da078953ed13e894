"""Pure measurement helpers: percentiles, span self time, file census.

Nothing here touches Spark, so the rules the benchmark reports by are
tested on their own (``perfbench/test_perfbench.py``).
"""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float], beyond: int = 10) -> dict:
    """The highest percentile with at least ``beyond`` samples above it.

    With ``n`` sorted samples that is the sample of rank ``n - beyond``
    (1-based): exactly ``beyond`` samples rank above it. With ``n <=
    beyond`` no such percentile exists and the maximum is reported,
    flagged by ``samples_beyond`` < ``beyond``.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return {"value": 0.0, "percentile": 0.0, "samples": 0, "samples_beyond": 0}
    rank = n - beyond if n > beyond else n
    return {
        "value": float(s[rank - 1]),
        "percentile": round(100.0 * rank / n, 2),
        "samples": n,
        "samples_beyond": n - rank,
    }


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, end = 0.0, lo
    for a, b in clipped:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


@dataclass
class Span:
    """One timed call at a layer boundary. ``parent`` is the index of the
    enclosing span in the tracer's list (-1 at the top of an op)."""

    name: str
    start: float
    end: float
    parent: int
    op: int


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent >= 0:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


def census(root: str) -> dict[str, tuple[tuple[int, int], int]]:
    """Every regular file under ``root``: path → ((device, inode), bytes)."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.lstat(p)
            except FileNotFoundError:
                continue
            out[p] = ((st.st_dev, st.st_ino), st.st_size)
    return out


def census_delta(before: dict, after: dict) -> dict:
    """What an operation left behind, judged by inode.

    A file whose inode did not exist before was written; a new path onto
    an inode that did exist is a hardlinked carry-over (or a rename), and
    costs no data bytes.
    """
    old_inodes = {ino for ino, _ in before.values()}
    written, linked = {}, 0
    for p, (ino, size) in after.items():
        if ino not in old_inodes:
            written[ino] = (p, size)
        elif p not in before:
            linked += 1
    return {
        "files_written": len(written),
        "bytes_written": sum(size for _, size in written.values()),
        "files_linked": linked,
        "new_paths": [p for p, _ in written.values()],
    }


def unique_bytes(snapshot: dict) -> int:
    """On-disk bytes with every hardlinked inode counted once."""
    return sum(dict(snapshot.values()).values())
