"""Tracing from outside the package.

``Tracer`` wraps public functions of the package modules in spans by
replacing the module attributes in this process; the package files are
never edited. ``SparkProbe`` reads what Spark did for one operation from
the job group the benchmark sets around it: the status tracker for job
ownership and the driver's loopback REST API for stage metrics.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import time
import urllib.request
from contextlib import contextmanager

from measure import Span, covered, median


class Tracer:
    """Spans kept in memory; ``dump`` writes them once at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def patch(self, layer: str, modules: list, attr: str) -> None:
        """Wrap ``attr`` in a ``layer.attr`` span wherever one of
        ``modules`` binds the same function (``from x import f`` makes a
        second binding that patching ``x`` alone would miss)."""
        original = getattr(modules[0], attr)

        @functools.wraps(original)
        def wrapped(*args, **kwargs):
            with self.span(f"{layer}.{attr}"):
                return original(*args, **kwargs)

        for mod in modules:
            if getattr(mod, attr, None) is original:
                self._patched.append((mod, attr, original))
                setattr(mod, attr, wrapped)

    def unpatch(self) -> None:
        while self._patched:
            mod, attr, original = self._patched.pop()
            setattr(mod, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op,
                }) + "\n")


def _rest_time(s: str) -> float:
    """Spark REST timestamps ('2026-01-01T00:00:00.123GMT') → epoch s."""
    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


_STAGE_SUMS = {
    "run_ms": "executorRunTime",
    "cpu_ms": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "input_bytes": "inputBytes",
    "output_rows": "outputRecords",
}


class SparkProbe:
    """Per-operation Spark counters, owned by job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def job_ids(self, group: str, timeout_s: float = 10.0) -> list[int]:
        """Jobs of ``group`` once every one of them has ended (the status
        store is fed asynchronously by the listener bus)."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        while True:
            ids = sorted(tracker.getJobIdsForGroup(group))
            infos = [tracker.getJobInfo(i) for i in ids]
            if all(i is not None and i.status != "RUNNING" for i in infos):
                return ids
            if time.monotonic() > deadline:
                raise TimeoutError(f"jobs of {group} still running")
            time.sleep(0.02)

    def op_stats(self, group: str, wall: tuple[float, float]) -> dict:
        """Counters for the op that ran under ``group`` during ``wall``
        (epoch seconds). ``gap_ms`` is the wall time no job covered."""
        ids = self.job_ids(group)
        jobs = [self._get(f"/jobs/{i}") for i in ids]
        out = {k: 0.0 for k in _STAGE_SUMS}
        out.update(jobs=len(jobs), stages=0, tasks=0, spill_bytes=0.0, task_skew=0.0)
        spans = [
            (_rest_time(j["submissionTime"]), _rest_time(j["completionTime"]))
            for j in jobs if "submissionTime" in j and "completionTime" in j
        ]
        out["gap_ms"] = ((wall[1] - wall[0]) - covered(spans, *wall)) * 1e3
        longest = None
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            for att in self._get(f"/stages/{sid}"):
                if att["status"] == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += att["numCompleteTasks"] + att["numFailedTasks"]
                for k, field in _STAGE_SUMS.items():
                    out[k] += att.get(field, 0)
                out["spill_bytes"] += att.get("memoryBytesSpilled", 0) + att.get(
                    "diskBytesSpilled", 0)
                if longest is None or att["executorRunTime"] > longest["executorRunTime"]:
                    longest = att
        out["cpu_ms"] /= 1e6  # executorCpuTime is in ns
        if longest is not None and longest["numCompleteTasks"] > 0:
            q = self._get(
                f"/stages/{longest['stageId']}/{longest['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
            out["task_skew"] = q[1] / q[0] if q[0] > 0 else 1.0
        return out


def summarize_ops(stats: list[dict]) -> dict[str, float]:
    """Mean per op of each Spark counter (``task_skew``: median)."""
    if not stats:
        return {}
    out = {k: sum(s[k] for s in stats) / len(stats) for k in stats[0] if k != "task_skew"}
    out["task_skew"] = median([s["task_skew"] for s in stats])
    return out
