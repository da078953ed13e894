"""The benchmark's workloads: one closed-loop client each.

``fx_ticks``   the paper's cron pipeline on small fresh tables, so per-tick
               cost is fixed overhead (job launch, payload → DataFrame,
               commit-protocol file work).
``fx_history`` merge ticks and reports against a raw table seeded with a
               cross-rate history, so the writers' read/rewrite scope
               dominates.
``analytics_mix`` the read side: registry queries into the noop sink plus
               the training-corpus build, in a seeded order.

Every operation runs under its own Spark job group, is timed on its own,
and is checked against a model outside the timed region.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import fxmodel
from measure import census, census_delta, median, tail, unique_bytes
from tracing import SparkProbe, Tracer

FX_MODES = ("append", "merge", "idempotent")
REPORT_EVERY = 5  # ticks per report: the README's 1-min : 5-min cadence
# A compressed simulated clock with maintenance once a day. A day is a
# whole number of mode rotations and report periods: the fx_ticks block.
TICKS_PER_DAY = 15
HISTORY_DAYS = 1000  # fx_history seed: 31 bases × 30 quotes × days rows
MIX_SF = 0.01
# The mix's tables come from one fixed seed; the run's seed orders the
# passes. Every run then times the same input, and tables drawn per seed
# cannot add their own spread to the timings.
MIX_DATA_SEED = 7
MIX_QUERIES = (
    # the reference's own surface, one per operator family: grouped report,
    # sessionizing window, as-of join, MERGE
    "daily_avg_report", "sessionize_events", "asof_attribution", "merge_upsert_orders",
    # the ANN hot path, which ROADMAP direction 5 reworks
    "ivfpq_topk_adc",
)
CORPUS_OP = "build_training_corpus"
# Passes per block of the mix's window. A pass takes about 9 s; on a loaded
# host one can outlast a 12 s window, and a one-pass window read a third lower
# than two passes, because each op's first timed run is still the slowest.
MIX_BLOCK_PASSES = 2


@dataclass
class Op:
    kind: str
    timed: bool
    ms: float = 0.0
    failed: bool = False
    rows_in: int = 0
    bytes_written: int = 0
    files_written: int = 0
    files_linked: int = 0
    rows_written: int = 0
    spark: dict | None = None
    phases: dict = field(default_factory=dict)


class Runner:
    """Runs one operation at a time and keeps what each one cost."""

    def __init__(self, spark, tmp: str, seed: int, seconds: float, tracer: Tracer | None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tmp = tmp
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.probe = SparkProbe(spark) if tracer else None
        self.ops: list[Op] = []
        # Time spent on the benchmark's own work (checks, file census,
        # footer reads, Spark probes), kept out of setup and window time.
        self.aside_s = 0.0
        self.aside_at_start = 0.0
        self.timed_start = 0.0
        self.window_s = 0.0

    @contextmanager
    def aside(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.aside_s += time.perf_counter() - t0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def run(self, kind: str, fn, timed: bool, roots: tuple[str, ...] = (), rows_in: int = 0) -> Op:
        n = len(self.ops)
        group = f"perfbench-{n}"
        self.sc.setJobGroup(group, kind)
        with self.aside():
            before = {k: v for r in roots for k, v in census(r).items()}
        op = Op(kind, timed, rows_in=rows_in)
        wall0 = time.time()
        t0 = time.perf_counter()
        if self.tracer is not None:
            self.tracer.op = n
        try:
            with self.span(f"op.{kind}"):
                res = fn()
            op.phases = res if isinstance(res, dict) else {}
        except Exception:
            traceback.print_exc(file=sys.stderr)
            op.failed = True
        op.ms = (time.perf_counter() - t0) * 1e3
        if self.tracer is not None:
            self.tracer.op = -1
        wall1 = time.time()
        with self.aside():
            self._account(op, roots, before, group, (wall0, wall1))
        self.ops.append(op)
        return op

    def _account(self, op: Op, roots, before: dict, group: str, wall) -> None:
        if roots:
            after = {k: v for r in roots for k, v in census(r).items()}
            d = census_delta(before, after)
            op.bytes_written = d["bytes_written"]
            op.files_written = d["files_written"]
            op.files_linked = d["files_linked"]
            if self.tracer is not None:
                op.rows_written = sum(
                    pq.read_metadata(p).num_rows for p in d["new_paths"]
                    if _is_data_file(p, roots)
                )
        if self.probe is not None:
            op.spark = self.probe.op_stats(group, wall)

    def check(self, fn) -> None:
        """Run a correctness check, as the benchmark's own time."""
        with self.aside():
            fn()

    def start_timing(self) -> None:
        self.timed_start = time.perf_counter()
        self.aside_at_start = self.aside_s

    def stop_timing(self) -> None:
        """Close the window: its wall time less the benchmark's own work
        in it, which is the time ``ops_per_s`` divides by."""
        self.window_s = (time.perf_counter() - self.timed_start
                         - (self.aside_s - self.aside_at_start))

    def time_left(self) -> bool:
        return time.perf_counter() - self.timed_start < self.seconds

    def timed(self, prefix: str = "") -> list[Op]:
        return [o for o in self.ops if o.timed and o.kind.startswith(prefix)]


def _is_data_file(path: str, roots: tuple[str, ...]) -> bool:
    """A table's parquet data, not a ``_manifest`` or change-feed file."""
    rel = next(os.path.relpath(path, r) for r in roots if path.startswith(r))
    return path.endswith(".parquet") and not any(
        c.startswith("_") for c in rel.split(os.sep))


def _ts_col(ts: dt.datetime):
    from pyspark.sql import functions as F

    return F.lit(ts.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp")


def _data_dir(path: str) -> str:
    """Directory holding a table's current files (versioned or plain).
    The package is imported on first use: it reads the sizing environment
    at import, which ``run.py`` sets only once it has started."""
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import _resolve_data_dir

    return _resolve_data_dir(path)


_RAW_SQL = (
    'SELECT epoch_us("timestamp") AS ts, epoch_us("date") AS d, from_cur, to_cur, rate '
    "FROM read_parquet('{dir}/**/*.parquet')"
)
_ROW_SCHEMA = pa.schema([
    ("ts", pa.int64()), ("d", pa.int64()), ("from_cur", pa.string()),
    ("to_cur", pa.string()), ("rate", pa.float64()),
])


def _rows_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in _ROW_SCHEMA]
    return pa.table(dict(zip(_ROW_SCHEMA.names, cols)), schema=_ROW_SCHEMA)


def _multiset_diff(con, a: str, b: str) -> int:
    """Rows in either query's result that the other lacks, with multiplicity.
    Each side is wrapped, so a set operation inside ``a`` or ``b`` cannot
    bind to the EXCEPT."""
    a, b = f"SELECT * FROM ({a})", f"SELECT * FROM ({b})"
    return con.execute(
        f"SELECT (SELECT count(*) FROM ({a} EXCEPT ALL {b})) + "
        f"(SELECT count(*) FROM ({b} EXCEPT ALL {a}))"
    ).fetchone()[0]


def _report_mismatches(con, raw_dir: str, report_dir: str) -> int:
    """Report rows that differ from a DuckDB recompute of ``build_report``
    over the raw snapshot (keys missing from the report count too)."""
    from etl_end_to_end_airflow_bigquery_spark.plans.oracles import _davg, _round

    day = 86_400_000_000
    return con.execute(f"""
        WITH raw AS ({_RAW_SQL.format(dir=raw_dir)}),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY from_cur, to_cur ORDER BY ts DESC, rate) AS rn
            FROM raw),
        want AS (
            SELECT d - d % {day} AS d, from_cur, to_cur, {_round(_davg("rate"), 4)} AS avg_rate
            FROM ranked WHERE rn <= 10 GROUP BY 1, 2, 3),
        got AS (
            SELECT epoch_us("date") AS d, from_cur, to_cur, avg_rate
            FROM read_parquet('{report_dir}/**/*.parquet'))
        SELECT count(*) FROM want LEFT JOIN got USING (d, from_cur, to_cur)
        WHERE got.avg_rate IS DISTINCT FROM want.avg_rate
    """).fetchone()[0]


def _live_rows(con, path: str) -> int:
    return con.execute(
        f"SELECT count(*) FROM read_parquet('{_data_dir(path)}/**/*.parquet')"
    ).fetchone()[0]


def _check_report(con, raw: str, rep: str, bad: set[str]) -> None:
    if _report_mismatches(con, _data_dir(raw), _data_dir(rep)):
        bad.add("report")


def _fx_loop(r: Runner, src: fxmodel.TickSource, tick, report, block: int,
             maintain=None) -> None:
    """The closed loop: a report after every ``REPORT_EVERY``-th tick and
    maintenance when a simulated day ends. One ``block`` of ticks runs
    before the window opens; tick times still fall for several rotations
    after a cold start. The window holds whole blocks only. A block is a
    whole number of mode rotations, report periods and days, so every run
    times the same mix of operations: they differ in cost, and an uneven
    mix would move both the median and ``ops_per_s``."""
    day = src.i // TICKS_PER_DAY

    def step(timed: bool) -> None:
        nonlocal day
        tick(timed)
        if src.i % REPORT_EVERY == 0:
            report(timed)
        if maintain is not None and src.i // TICKS_PER_DAY > day:
            day = src.i // TICKS_PER_DAY
            maintain(timed)

    for _ in range(block):
        step(False)
    r.start_timing()
    while True:
        step(True)
        if src.i % block == 0 and not r.time_left():
            break
    r.stop_timing()


def fx_ticks(r: Runner) -> dict:
    """Ticks rotate over the three write modes, each into its own fresh
    table; a report every ``REPORT_EVERY`` ticks; compaction + expiry
    once per simulated day."""
    from etl_end_to_end_airflow_bigquery_spark.operators import writers
    from etl_end_to_end_airflow_bigquery_spark.pipelines import fx

    tables_dir = os.path.join(r.tmp, "tables")
    path = {m: os.path.join(tables_dir, m) for m in (*FX_MODES, "report")}
    src = fxmodel.TickSource(r.seed, TICKS_PER_DAY)
    written: dict[str, list[list[tuple]]] = {m: [] for m in FX_MODES}
    roots = (tables_dir,)

    def tick(timed: bool) -> None:
        mode = FX_MODES[src.i % len(FX_MODES)]
        payload, ts = src.next()
        rows = fxmodel.tick_rows(payload, ts)
        r.run(f"tick_{mode}", lambda: fx.run_ingest(
            r.spark, payload, path[mode], mode=mode, ingest_ts=_ts_col(ts)),
            timed, roots, rows_in=len(rows))
        written[mode].append(rows)

    con = duckdb.connect()
    bad: set[str] = set()

    def report(timed: bool) -> None:
        o = r.run("report", lambda: fx.run_report(
            r.spark, path["merge"], path["report"], mode="merge"), timed, roots)
        if not o.failed:
            r.check(lambda: _check_report(con, path["merge"], path["report"], bad))

    def maintain(timed: bool) -> None:
        def op():
            for m in FX_MODES:
                writers.compact_parquet(r.spark, path[m])
            writers.expire_versions(path["merge"])
            writers.expire_versions(path["report"])

        r.run("maint", op, timed, roots)

    # Warm-up on the measured tables: five ticks per mode (table creation,
    # then the update path), three reports and a maintenance pass.
    _fx_loop(r, src, tick, report, TICKS_PER_DAY, maintain)
    maintain(False)  # stored bytes are measured on compacted tables

    for m in FX_MODES:
        con.register("want", _rows_table(fxmodel.expected_rows(written[m], m)))
        got = _RAW_SQL.format(dir=_data_dir(path[m]))
        if _multiset_diff(con, "SELECT * FROM want", got):
            bad.add(f"tick_{m}")
        con.unregister("want")
    live = sum(_live_rows(con, p) for p in path.values())
    return _fx_result(r, bad, tables_dir, live)


def _history_table(seed: int, days: int) -> pa.Table:
    """Cross rates for every ordered pair of ``CURRENCIES`` on each of the
    ``days`` days before the tick epoch, one row per (day, pair)."""
    rng = np.random.default_rng(seed + 1)
    cur = np.array(fxmodel.CURRENCIES)
    steps = rng.normal(0.0, 0.004, (days, len(cur)))
    logr = np.cumsum(steps, axis=0) + rng.normal(0.0, 1.0, len(cur))
    logr[:, 0] = 0.0  # EUR anchors the cross rates
    b, q = np.array([(b, q) for b in range(len(cur)) for q in range(len(cur)) if b != q]).T
    rate = np.round(np.exp(logr[:, q] - logr[:, b]), 6).ravel()
    day_us = 86_400_000_000
    first = fxmodel.to_us(fxmodel.EPOCH) - days * day_us
    d = np.repeat(first + np.arange(days, dtype=np.int64) * day_us, len(b))
    utc = pa.timestamp("us", tz="UTC")
    return pa.table({
        "timestamp": pa.array(d + day_us // 2, utc),
        "date": pa.array(d, utc),
        "from_cur": cur[np.tile(b, days)],
        "to_cur": cur[np.tile(q, days)],
        "rate": rate,
    })


def fx_history(r: Runner) -> dict:
    """Merge ticks plus a report every ``REPORT_EVERY`` ticks against a raw
    table seeded, through ``merge_upsert``, with a cross-rate history."""
    from etl_end_to_end_airflow_bigquery_spark.operators import writers
    from etl_end_to_end_airflow_bigquery_spark.pipelines import fx

    tables_dir = os.path.join(r.tmp, "tables")
    raw, rep = os.path.join(tables_dir, "merge"), os.path.join(tables_dir, "report")
    seed_file = os.path.join(r.tmp, "seed", "history.parquet")
    os.makedirs(os.path.dirname(seed_file))
    pq.write_table(_history_table(r.seed, HISTORY_DAYS), seed_file)
    writers.merge_upsert(r.spark, raw, r.spark.read.parquet(seed_file), keys=fx.RAW_KEYS)
    src = fxmodel.TickSource(r.seed, TICKS_PER_DAY)
    written: list[list[tuple]] = []
    roots = (tables_dir,)

    def tick(timed: bool) -> None:
        payload, ts = src.next()
        rows = fxmodel.tick_rows(payload, ts)
        r.run("tick_merge", lambda: fx.run_ingest(
            r.spark, payload, raw, mode="merge", ingest_ts=_ts_col(ts)),
            timed, roots, rows_in=len(rows))
        written.append(rows)

    con = duckdb.connect()
    bad: set[str] = set()

    def report(timed: bool) -> None:
        o = r.run("report", lambda: fx.run_report(r.spark, raw, rep, mode="merge"), timed, roots)
        if not o.failed:
            r.check(lambda: _check_report(con, raw, rep, bad))

    _fx_loop(r, src, tick, report, REPORT_EVERY)

    con.register("ticks", _rows_table(fxmodel.expected_rows(written, "merge")))
    want = (
        "SELECT * FROM ticks UNION ALL SELECT s.* FROM ("
        + _RAW_SQL.format(dir=os.path.dirname(seed_file))
        + ") s ANTI JOIN ticks t USING (d, from_cur, to_cur)"
    )
    if _multiset_diff(con, want, _RAW_SQL.format(dir=_data_dir(raw))):
        bad.add("tick_merge")
    raw_rows = _live_rows(con, raw)
    out = _fx_result(r, bad, tables_dir, raw_rows + _live_rows(con, rep))
    out["record"]["raw_table_rows"] = raw_rows
    return out


def _fx_result(r: Runner, bad: set[str], tables_dir: str, live_rows: int) -> dict:
    ticks, reports, maint = r.timed("tick"), r.timed("report"), r.timed("maint")
    failed = sum(o.failed or o.kind in bad for o in r.ops)
    rows_in = sum(o.rows_in for o in ticks)
    table_bytes = unique_bytes(census(tables_dir))
    rec = {
        "op_p50_ms": median([o.ms for o in ticks]),
        "op_tail_ms": tail([o.ms for o in ticks]),
        "ops_per_s": len(ticks) / r.window_s,
        "report_p50_ms": median([o.ms for o in reports]),
        "report_tail_ms": tail([o.ms for o in reports]),
        "maint_p50_ms": median([o.ms for o in maint]),
        "write_bytes_per_row": sum(o.bytes_written for o in ticks) / rows_in,
        "report_bytes_written": sum(o.bytes_written for o in reports),
        "maint_bytes_written": sum(o.bytes_written for o in maint),
        "stored_bytes_per_row": table_bytes / live_rows,
        "table_bytes": table_bytes,
        "live_rows": live_rows,
        "failed_checks": sorted(bad),
    }
    return {"record": rec, "failed": failed}


def analytics_mix(r: Runner) -> dict:
    """Registry queries into the noop sink and the corpus build, each run
    once per pass, passes in a seeded order."""
    from etl_end_to_end_airflow_bigquery_spark import plans, tmputil
    from etl_end_to_end_airflow_bigquery_spark.schemas import TESTDATA_TABLES
    from etl_end_to_end_airflow_bigquery_spark.pipelines import corpus

    from tools.selfcheck import frame_to_rows

    sf_dir = os.path.join(r.tmp, "sf")
    datagen.generate(sf_dir, MIX_DATA_SEED, MIX_SF)
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    corpus_dirs: list[str] = []
    corpus_rows: list[int] = []
    bad: set[str] = set()

    def query(name: str, check: bool, timed: bool) -> None:
        """One query: build the DataFrame, then run it into the noop sink.
        The checked warm-up run collects instead, so the result is compared
        with the query's DuckDB oracle without running the plan twice."""
        got = {}

        def op():
            t0 = time.perf_counter()
            with r.span("plans.build"):
                df = plans.QUERIES[name](r.spark, sf_dir)
            t1 = time.perf_counter()
            with r.span("plans.exec"):
                if check:
                    got["rows"] = frame_to_rows(df.columns, [tuple(x) for x in df.collect()])
                else:
                    df.write.format("noop").mode("overwrite").save()
            return {"build_ms": (t1 - t0) * 1e3, "exec_ms": (time.perf_counter() - t1) * 1e3}

        def compare():
            rel = con.execute(plans.ORACLES[name])
            if got["rows"] != frame_to_rows([c[0] for c in rel.description], rel.fetchall()):
                bad.add(name)

        o = r.run(name, op, timed)
        if check and not o.failed:
            r.check(compare)
        tmputil.sweep_tmpdirs()

    def build(check: bool, timed: bool) -> None:
        out = os.path.join(r.tmp, "corpus", str(len(corpus_dirs)))
        corpus_dirs.append(out)
        frame = {}

        def op():
            frame["df"] = corpus.build_training_corpus(r.spark, sf_dir, out)

        o = r.run(CORPUS_OP, op, timed, roots=(os.path.dirname(out),))
        if check and not o.failed:
            r.check(lambda: corpus_rows.append(
                _check_corpus(con, out, frame["df"].count(), None, bad)))
        if len(corpus_dirs) > 2:  # keep the first build and the latest
            shutil.rmtree(corpus_dirs[-2], ignore_errors=True)

    ops = [*MIX_QUERIES, CORPUS_OP]
    rng = random.Random(r.seed)

    def one_pass(check: bool, timed: bool) -> None:
        order = ops[:]
        rng.shuffle(order)
        for name in order:
            if name == CORPUS_OP:
                build(check, timed)
            else:
                query(name, check, timed)

    # Warm-up: a checked pass, then a plain one; the light queries still
    # run a quarter slower in the second pass of a process than in the third.
    one_pass(check=True, timed=False)
    one_pass(check=False, timed=False)
    r.start_timing()
    while True:
        for _ in range(MIX_BLOCK_PASSES):
            one_pass(check=False, timed=True)
        if not r.time_left():
            break
    r.stop_timing()
    n_rows = corpus_rows[0] if corpus_rows else 0
    _check_corpus(con, corpus_dirs[-1], n_rows, corpus_dirs[0], bad)

    timed = r.timed()
    builds = r.timed(CORPUS_OP)
    rec = {
        "op_p50_ms": median([o.ms for o in timed]),
        "op_tail_ms": tail([o.ms for o in timed]),
        "ops_per_s": len(timed) / r.window_s,
        "write_bytes_per_row": sum(o.bytes_written for o in builds) / max(1, n_rows * len(builds)),
        "stored_bytes_per_row": unique_bytes(census(corpus_dirs[-1])) / max(1, n_rows),
        "corpus_rows": n_rows,
        "failed_checks": sorted(bad),
    }
    failed = sum(o.failed or o.kind in bad for o in r.ops)
    return {"record": rec, "failed": failed}


def _check_corpus(con, out: str, want_rows: int, first: str | None, bad: set[str]) -> int:
    """The build at ``out`` has ``want_rows`` rows, only split=/shard=
    leaves, and (when ``first`` is given) the same rows as that build.
    Returns the row count read back."""
    leaves = {
        os.path.relpath(d, out)
        for d, _dirs, files in os.walk(out)
        if any(f.endswith(".parquet") for f in files)
    }
    ok = bool(leaves) and all(
        len(p := rel.split(os.sep)) == 2
        and p[0] in ("split=train", "split=val", "split=test")
        and p[1].startswith("shard=") and p[1][6:].isdigit()
        for rel in leaves
    )
    scan = "SELECT * FROM read_parquet('{}/**/*.parquet', hive_partitioning = true)"
    n = con.execute(f"SELECT count(*) FROM ({scan.format(out)})").fetchone()[0]
    ok = ok and n == want_rows and n > 0
    if first is not None:
        ok = ok and _multiset_diff(con, scan.format(out), scan.format(first)) == 0
    if not ok:
        bad.add(CORPUS_OP)
    return n
