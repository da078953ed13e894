"""End-to-end benchmark of the FX pipelines and the analytics read side.

    python3 perfbench/run.py --workload fx_ticks --seed 1 --seconds 12 --trace 0

Run from the repository root. Workloads are in ``workloads.py``; what each
metric means and which layer moves it is in ``perfbench/README.md``.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans and Spark counters and prints the per-layer metrics.
The last stdout line is one JSON object (correct, attempted, failed,
metrics); the line before it is the full record, which is also written
under ``.perfbench_out/`` with the spans of a traced run.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import platform
import resource
import shutil
import subprocess
import sys
import tempfile
import time

T0 = time.perf_counter()

import workloads  # noqa: E402  (T0 includes every import)
from measure import median, self_times  # noqa: E402
from tracing import Tracer, summarize_ops  # noqa: E402

PKG = "etl_end_to_end_airflow_bigquery_spark"
WORKLOADS = ("fx_ticks", "fx_history", "analytics_mix")
OUT_DIR = ".perfbench_out"
TMP_DIR = ".perfbench_tmp"


def host_sizing() -> dict:
    """Cores and driver memory for this host: every core, and a 2 GB
    heap, 1 GB below 8 GB of RAM (the session factory's default is 48 GB)."""
    with open("/proc/meminfo", encoding="utf-8") as f:
        mem_kb = {ln.split(":")[0]: int(ln.split()[1]) for ln in f}
    gb = 2 if mem_kb["MemTotal"] >= 8 * 1000 * 1000 else 1
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "driver_memory": f"{gb}g",
        "mem_total_mb": mem_kb["MemTotal"] // 1024,
        "mem_available_mb": mem_kb["MemAvailable"] // 1024,
        "python": platform.python_version(),
    }


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters (``/proc/stat``, in ticks)."""
    with open("/proc/stat", encoding="utf-8") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time taken by other guests (steal)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d[:8]) if sum(d[:8]) else 0.0


def _jvm_hwm_kb(pid: int) -> int:
    """Peak RSS of the driver JVM: ``pid`` is the spark-submit launcher,
    which is the JVM itself once the launch script has exec'd."""
    try:
        with open(f"/proc/{pid}/task/{pid}/children", encoding="utf-8") as f:
            pids = [pid, *map(int, f.read().split())]
    except OSError:
        pids = [pid]
    best = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status", encoding="utf-8") as f:
                for ln in f:
                    if ln.startswith("VmHWM:"):
                        best = max(best, int(ln.split()[1]))
        except OSError:
            pass
    return best


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit (it exits on EOF
    of its stdin)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _patch_layers(tracer) -> None:
    from etl_end_to_end_airflow_bigquery_spark.operators import writers
    from etl_end_to_end_airflow_bigquery_spark.pipelines import corpus, fx

    for attr in ("payload_dataframe", "payload_to_rows"):
        tracer.patch("sources", [fx], attr)
    for attr in ("run_ingest", "run_report"):
        tracer.patch("pipelines", [fx], attr)
    tracer.patch("pipelines", [corpus], "build_training_corpus")
    for attr in ("merge_upsert", "idempotent_append", "append", "read_table"):
        tracer.patch("writers", [writers, fx], attr)
    for attr in ("compact_parquet", "expire_versions"):
        tracer.patch("writers", [writers], attr)


WRITER_FNS = ("merge_upsert", "idempotent_append", "append", "read_table",
              "compact_parquet", "expire_versions")
SPARK_COUNTERS = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "input_bytes", "output_rows", "task_skew")
JOB_KINDS = ("tick_append", "tick_merge", "tick_idempotent", "report", "maint")


def per_layer(r, tracer, session_ms: float, op_p50_ms: float) -> dict[str, float]:
    """Per-layer metrics of a traced run (names in BENCHMARK.json)."""
    timed = {i for i, o in enumerate(r.ops) if o.timed}
    per_op: dict[str, dict[int, float]] = {}
    for s, st in zip(tracer.spans, self_times(tracer.spans)):
        if s.op in timed:
            d = per_op.setdefault(s.name, {})
            d[s.op] = d.get(s.op, 0.0) + st * 1e3

    def self_ms(*names: str) -> float:
        ops: dict[int, float] = {}
        for n in names:
            for op, ms in per_op.get(n, {}).items():
                ops[op] = ops.get(op, 0.0) + ms
        return median(list(ops.values()))

    m = {"session.start_ms": session_ms,
         "sources.payload_ms": self_ms("sources.payload_dataframe", "sources.payload_to_rows")}
    for f in ("run_ingest", "run_report", "build_training_corpus"):
        m[f"pipelines.{f}_ms"] = self_ms(f"pipelines.{f}")
    for f in WRITER_FNS:
        m[f"writers.{f}_ms"] = self_ms(f"writers.{f}")
    wops = [o for o in r.ops if o.timed and o.kind.split("_")[0] in ("tick", "report", "maint")]
    ticks = [o for o in wops if o.kind.startswith("tick")]
    n = max(1, len(wops))
    m["writers.files_written"] = sum(o.files_written for o in wops) / n
    m["writers.bytes_written"] = sum(o.bytes_written for o in wops) / n
    m["writers.files_linked"] = sum(o.files_linked for o in wops) / n
    m["writers.rows_written"] = median([o.rows_written for o in ticks])
    # A tick has to write at most its batch; a rewrite of older rows is waste.
    rows_written = sum(o.rows_written for o in ticks)
    useful = sum(min(o.rows_in, o.rows_written) for o in ticks)
    m["writers.useful_write_ratio"] = useful / rows_written if rows_written else 0.0
    for q in workloads.MIX_QUERIES:
        runs = r.timed(q)
        b = median([o.phases.get("build_ms", 0.0) for o in runs])
        e = median([o.phases.get("exec_ms", 0.0) for o in runs])
        m[f"plans.build_ms.{q}"] = b
        m[f"plans.exec_ms.{q}"] = e
        m[f"plans.build_share.{q}"] = b / (b + e) if b + e else 0.0
    stats = summarize_ops([o.spark for o in r.ops if o.timed and o.spark])
    for c in SPARK_COUNTERS:
        m[f"spark.{c}"] = stats.get(c, 0.0)
    for k in JOB_KINDS:
        m[f"spark.jobs.{k}"] = median([o.spark["jobs"] for o in r.timed(k) if o.spark])
    m["driver.gap_ms"] = median([o.spark["gap_ms"] for o in r.ops if o.timed and o.spark])
    m["trace.op_p50_ms"] = op_p50_ms
    return m


# Every end-to-end metric a record holds, with its unit.
RECORD_UNITS = {
    "setup_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms", "ops_per_s": "1/s",
    "report_p50_ms": "ms", "report_tail_ms": "ms", "maint_p50_ms": "ms",
    "write_bytes_per_row": "B/row", "stored_bytes_per_row": "B/row",
    "peak_rss_mb": "MB", "fail_ratio": "ratio",
}
# The gated ones (BENCHMARK.json). Not gated, because they spread too much
# from run to run to judge a change by (perfbench/README.md): op_p50_ms,
# the median of the mix, falls among four light queries of similar cost;
# peak_rss_mb follows the steps in which G1 grows the heap.
END_TO_END_UNITS = {
    k: RECORD_UNITS[k]
    for k in ("setup_s", "ops_per_s", "write_bytes_per_row", "stored_bytes_per_row")
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"perfbench: run from the repository root ({PKG}/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    host = host_sizing()
    cpu0 = cpu_times()
    tmp = os.path.join(root, TMP_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    for sub in ("py", "local", "jvm"):
        os.makedirs(os.path.join(tmp, sub))
    # Sizing and scratch space come from here, not from the session factory.
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": host["driver_memory"],
        "TMPDIR": os.path.join(tmp, "py"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
    })
    tempfile.tempdir = None

    import pyspark

    tracer = Tracer() if args.trace else None
    spark = None
    try:
        from etl_end_to_end_airflow_bigquery_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark("perfbench", extra_conf={
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.local.dir": os.path.join(tmp, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'jvm')}",
        })
        session_ms = (time.perf_counter() - t) * 1e3
        if tracer:
            _patch_layers(tracer)
        r = workloads.Runner(spark, tmp, args.seed, args.seconds, tracer)
        res = getattr(workloads, args.workload)(r)
        jvm_kb = _jvm_hwm_kb(spark.sparkContext._gateway.proc.pid)
    finally:
        if tracer:
            tracer.unpatch()
        if spark is not None:
            _stop(spark)
        from etl_end_to_end_airflow_bigquery_spark.tmputil import sweep_tmpdirs

        sweep_tmpdirs()
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):  # left in place while another run uses it
            os.rmdir(os.path.dirname(tmp))

    rec = res["record"]
    rec["setup_s"] = r.timed_start - T0 - r.aside_at_start
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    rec.update(jvm_peak_rss_mb=jvm_kb / 1024, py_peak_rss_mb=py_kb / 1024)
    rec["peak_rss_mb"] = (py_kb + jvm_kb) / 1024
    metrics = {k: {"value": rec[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    attempted = len(r.ops)
    rec.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        host={**host, "cpus": int(os.environ["SPARK_GRAFT_CPUS"]), "spark": pyspark.__version__,
              "cpu_steal": steal_share(cpu0, cpu_times())},
        session_ms=session_ms, window_s=r.window_s, aside_s=r.aside_s,
        attempted=attempted, failed=res["failed"],
        fail_ratio=res["failed"] / attempted, timed_ops=len(r.timed()),
        op_kinds={k: len(r.timed(k)) for k in sorted({o.kind for o in r.ops})},
    )
    rec["units"] = {k: u for k, u in RECORD_UNITS.items() if k in rec}
    if tracer:
        layers = per_layer(r, tracer, session_ms, rec["op_p50_ms"])
        rec["per_layer"] = layers
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in layers.items()}
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = os.path.join(OUT_DIR, f"{args.workload}-s{args.seed}-t{args.trace}")
    with open(stem + ".json", "w", encoding="utf-8") as f:
        json.dump({**rec, "ops": [dataclasses.asdict(o) for o in r.ops]}, f, indent=1, sort_keys=True)
    if tracer:
        tracer.dump(stem + "-spans.jsonl")
    print(json.dumps({"record": rec}, sort_keys=True))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": attempted,
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_ms") or ".build_ms." in name or ".exec_ms." in name:
        return "ms"
    if "bytes" in name:
        return "B"
    if name.endswith(("ratio", "skew")) or ".build_share." in name:
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
