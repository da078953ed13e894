"""Per-stage profile of one or more registered queries (guide §1).

Runs each named query into the noop sink on a FRESH SparkSession with
event logging on, then parses the event log into a per-stage breakdown:
wall clock between stage submit/complete, summed executor run time, task
count, shuffle bytes — the measure-first evidence for optimization work.

Usage:
    python tools/profile_query.py [sf_dir] query [query ...]

Each query runs twice; the second (warm) run is the one reported, with
the first run's total shown for the codegen/compile delta. Stage names
carry the call site, which maps back to operators.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(spark, fn, sf_dir):
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> int:
    rest = sys.argv[1:]
    if rest and os.path.isdir(rest[0]):
        sf_dir, names = rest[0], rest[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", rest

    from etl_end_to_end_airflow_bigquery_spark.plans import QUERIES
    from etl_end_to_end_airflow_bigquery_spark.session import get_spark
    from etl_end_to_end_airflow_bigquery_spark.tmputil import sweep_tmpdirs

    log_dir = tempfile.mkdtemp(prefix="spark_graft_profile_")
    spark = get_spark(
        "profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    app_id = spark.sparkContext.applicationId

    # one tiny warmup to absorb JVM startup
    QUERIES["top_orders_by_date"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    marks = {}
    for name in names:
        fn = QUERIES[name]
        cold = _run(spark, fn, sf_dir)
        sweep_tmpdirs()
        t_start = time.time() * 1000
        warm = _run(spark, fn, sf_dir)
        t_end = time.time() * 1000
        sweep_tmpdirs()
        marks[name] = (cold, warm, t_start, t_end)

    spark.stop()

    # parse the event log (may be .inprogress or compressed-off plain)
    path = None
    for f in os.listdir(log_dir):
        if app_id in f or not path:
            path = os.path.join(log_dir, f)
    if os.path.isdir(path):  # Spark 4 rolling event-log dir
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.startswith("events_")
        ) or [os.path.join(path, f) for f in os.listdir(path)]
    else:
        files = [path]

    def _lines():
        for p in files:
            with open(p) as fh:
                yield from fh

    stages = []  # (submit_ms, complete_ms, stage_id, name, tasks)
    jobs = []  # (submit_ms, jid)
    tasks: dict[int, list] = {}  # stage_id -> [(dur, gc, spill)]
    if True:
        for line in _lines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if ev.get("Event") == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sub = si.get("Submission Time")
                com = si.get("Completion Time")
                if sub is None or com is None:
                    continue
                stages.append((sub, com, si["Stage ID"], si["Stage Name"],
                               si["Number of Tasks"]))
            elif ev.get("Event") == "SparkListenerJobStart":
                jobs.append((ev["Submission Time"], ev["Job ID"]))
            elif ev.get("Event") == "SparkListenerTaskEnd":
                ti = ev.get("Task Info", {})
                tm = ev.get("Task Metrics") or {}
                dur = (ti.get("Finish Time", 0) or 0) - (
                    ti.get("Launch Time", 0) or 0
                )
                tasks.setdefault(ev["Stage ID"], []).append(
                    (
                        dur,
                        tm.get("JVM GC Time", 0),
                        tm.get("Memory Bytes Spilled", 0),
                    )
                )

    for name, (cold, warm, t0, t1) in marks.items():
        mine = [s for s in stages if t0 <= s[0] <= t1]
        njobs = len([j for j in jobs if t0 <= j[0] <= t1])
        print(f"\n=== {name}: cold {cold:.2f}s  warm {warm:.2f}s  "
              f"jobs {njobs}  stages {len(mine)} ===")
        mine.sort(key=lambda s: -(s[1] - s[0]))
        for sub, com, sid, sname, ntask in mine[:14]:
            ts = sorted(t[0] for t in tasks.get(sid, [])) or [0]
            gc = sum(t[1] for t in tasks.get(sid, []))
            spill = sum(t[2] for t in tasks.get(sid, []))
            print(
                f"  {com - sub:6d} ms  stage {sid:4d}  tasks {ntask:3d}  "
                f"task max/med {ts[-1]}/{ts[len(ts) // 2]}  gc {gc}  "
                f"spill {spill // 1048576}M  {sname[:60]}"
            )

    shutil.rmtree(log_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
