#!/usr/bin/env python3
"""Product-path benchmark of station_data_ingestion_spark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload backfill|daily_cron|analytic_queries
        [--seed N] [--seconds S] [--trace 0|1]
    python3 perfbench/run.py --workload all [--seed N] [--seconds S]

Each workload is a closed loop with one client: an op starts when the
previous one has finished. Inputs are generated from ``--seed``; the
engine sees only the generated files and is driven only through its
public entry points. Every op's output is checked against an answer
computed independently (numpy for observations, DuckDB for registry
queries); an op that raises or answers wrong counts in ``failed``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it holds the run
context. ``--workload all`` runs the three workloads untraced and prints
a per-workload report instead. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from datetime import date, timedelta

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
from proc import job_overhead_ms, jvm_pid, stop_spark, vmhwm_mb  # noqa: E402
from spans import Tracer, event_log_file, eventlog_conf, read_event_log, self_time, span_s  # noqa: E402

WORKLOADS = ("backfill", "daily_cron", "analytic_queries")
DRIVER_MEM = "2g"
N_STATIONS = 300
BACKFILL_MONTHS = 12
CRON_FIRST_DAY = date(2024, 1, 2)
ANALYTIC_DAILIES = 2
MIN_READS = 100
WARMUP_READS = 3
TRACE_OVERHEAD_READS = 30
QUERY_SCALE = 0.01
REGISTRY_QUERIES = (
    "q1_pricing_summary", "q9_profit_by_nation_year", "merge_upsert_orders",
    "snapshot_ranged_orders_revenue", "snapshot_row_tracking_read",
    "snapshot_change_feed_read", "snapshot_branch_fast_forward_read",
    "rollup_incremental_update", "stats_logreg_irls_newton",
    "stream_tumbling_replay", "stream_topk_ttl_replay",
    "dedup_jaccard_prefix_filtered", "text_dup_ngram_span_fraction",
)
E2E = {  # name -> unit
    "setup_s": "s",
    "op_s_p50": "s",
    "op_s_p90": "s",
    "stored_bytes_per_live_byte": "ratio",
}


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Run:
    """State of one benchmark run: work dir, tracer, checks and results."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, registry: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.registry = registry
        self.work = work
        self.tr = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.op_s: list[float] = []
        self.layer: dict[str, float] = {}
        self.context: dict = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
            "nproc": os.cpu_count(), "master": "local[*]", "driver_memory": DRIVER_MEM,
            "setup_parts_s": {},
        }
        self.untraced_inner_s = 0.0
        self.spans: list[dict] = []  # what the per-layer figures came from
        self.setup_s = 0.0
        self.peak_rss_mb = 0.0
        self.space: dict = {}
        self.spark = None

    @contextmanager
    def part(self, name: str):
        """Time one named step of the set-up, for the run context."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.context["setup_parts_s"][name] = round(time.perf_counter() - t, 3)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, ok: bool, what: str) -> bool:
        """Count one attempted op; a wrong answer counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAILED: {what}", file=sys.stderr, flush=True)
        return ok

    def op_error(self, what: str, err: BaseException) -> None:
        """Count one attempted op that raised; call it from the handler."""
        self.attempted += 1
        self.failed += 1
        print(f"FAILED: {what}: {type(err).__name__}", file=sys.stderr, flush=True)
        traceback.print_exc(limit=-8, file=sys.stderr)

    def start_spark(self) -> None:
        with self.tr.span("session.import"):
            from station_data_ingestion_spark import get_spark
        with self.tr.span("session.get_spark"):
            extra = eventlog_conf(self.path("eventlog")) if self.trace else None
            self.spark = get_spark(extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tr.attach(self.spark)

    def rss_now(self) -> float:
        return vmhwm_mb() + vmhwm_mb(jvm_pid(self.spark))

    def stop_spark(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None

    def time_left(self, t0: float) -> bool:
        return time.perf_counter() - t0 < self.seconds


def set_env(work: str) -> None:
    """Keep every file the run, Spark and its JVM write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the module caches its first choice
    # -XX:-UsePerfData: otherwise every JVM writes /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def write_config(path: str, files: list[str], first: str, last: str, **extra) -> str:
    item = {"files": files, "datatype": gen.DATATYPE, "period": "day", "fill": "raw",
            "start_date": first, "end_date": last, **extra}
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"data": [item], "location": "hawaii"}, f, indent=1)
    return path


# -- backfill ------------------------------------------------------------------


def backfill(run: Run) -> None:
    """Warm run_job of monthly wide CSVs into an empty snapshot table."""
    t0 = time.perf_counter()
    model = gen.ObsModel(run.seed, N_STATIONS, date(2023, 1, 1), 365)
    with run.part("generate"):
        files = gen.month_files(model, 2023, BACKFILL_MONTHS, run.path("in"))
        last = gen.month_span(2023, BACKFILL_MONTHS)[1]
        cfg = write_config(run.path("backfill.json"), files, "2023-01-01", last.isoformat())
    expect_rows = model.row_count()
    with run.part("session"):
        run.start_spark()
    with run.part("warmup"):
        # the same op once, untimed: a shorter warm-up leaves plan shapes
        # uncompiled and the first timed op ~15% slower
        layers.ingest_op(run.spark, Tracer(False), layers.templated_job(cfg, None),
                         run.path("warmup_table"), None, run.path("warmup_docs"), -1)
    run.setup_s = time.perf_counter() - t0
    run.context["job_overhead_ms_start"] = job_overhead_ms(run.spark)

    t_loop = time.perf_counter()
    op = 0
    table = None
    while op == 0 or run.time_left(t_loop):
        table = run.path(f"table{op}")
        t = time.perf_counter()
        try:
            with run.tr.span("op", op):
                job = layers.templated_job(cfg, None)
                got = layers.ingest_op(run.spark, run.tr, job, table, run.path(f"manifest{op}.json"),
                                       run.path(f"docs{op}"), op)
        except Exception as e:  # noqa: BLE001 -- a failing op is counted, not fatal
            run.op_error(f"backfill op {op}", e)
        else:
            run.op_s.append(time.perf_counter() - t)
            run.check((got["created"], got["replaced"], got["rows"]) == (expect_rows, 0, expect_rows),
                      f"backfill op {op}: got {got}, expected {expect_rows} rows all created")
        op += 1
    run.space = layers.table_space(table)
    run.peak_rss_mb = run.rss_now()
    run.context["job_overhead_ms_end"] = job_overhead_ms(run.spark)
    if run.trace:
        # the same op untraced, for the tracing overhead
        t = time.perf_counter()
        layers.ingest_op(run.spark, Tracer(False), layers.templated_job(cfg, None), run.path("untraced"),
                         None, run.path("docs_untraced"), -1)
        run.layer["trace.overhead_s"] = quantile(run.op_s, 0.5) - (time.perf_counter() - t)
        trace_ingest_replay(run, cfg, expect=(expect_rows, 0))


# -- daily_cron ----------------------------------------------------------------


def spawn(run: Run, name: str, request: dict) -> tuple[float, dict]:
    """Run perfbench/proc.py once; (wall seconds spawn to exit, result)."""
    req_path = run.path(f"{name}.request.json")
    with open(req_path, "w", encoding="utf-8") as f:
        json.dump(request, f)
    t = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "proc.py"), req_path],
        cwd=run.work, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    try:
        out, err = proc.communicate(timeout=170)
    except BaseException:
        # stop the child (it stops its JVM on SIGTERM) before giving up
        proc.terminate()
        try:
            proc.communicate(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
        raise
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        raise RuntimeError(f"{name} exited {proc.returncode}: {err[-600:]}")
    return wall, json.loads(out.strip().splitlines()[-1])


def year_model(seed: int) -> gen.ObsModel:
    """Stations over the seed year (2023-01-02..2024-01-01) and 30 cron days."""
    return gen.ObsModel(seed, N_STATIONS, CRON_FIRST_DAY - timedelta(365), 365 + 30)


def seed_year(run: Run, model: gen.ObsModel) -> tuple[str, str]:
    """The one-year seed CSV and its config, and the cron template: the
    growing month file, a 2-day window ending on the templated day."""
    seed_last = CRON_FIRST_DAY - timedelta(1)
    seed_csv = run.path("in", "seed_year.csv")
    model.write_csv(seed_csv, model.start, seed_last)
    model.apply_file(model.start, seed_last, seed_last)
    cfg = write_config(run.path("seed.json"), [seed_csv], model.start.isoformat(), seed_last.isoformat())
    month = os.path.join(run.path("in"), "%y_%m.csv")
    template = write_config(run.path("cron_template.json"), [month], "%y-%m-%d", "%y-%m-%d", window_days=2)
    return cfg, template


def next_day(run: Run, model: gen.ObsModel, op: int) -> tuple[date, tuple[int, int]]:
    """Cron day ``op``: revise the previous day, rewrite the growing month
    file and model the merge. Returns the day and (created, replaced)."""
    day = CRON_FIRST_DAY + timedelta(op)
    prev = day - timedelta(1)
    model.revise(prev)
    model.write_csv(run.path("in", f"{day.year:04d}_{day.month:02d}.csv"), date(day.year, day.month, 1), day)
    return day, model.apply_file(prev, day, day)


def cron_setup(run: Run, model: gen.ObsModel) -> str:
    """Seed table, built by run_job in a fresh process. Returns the cron
    config template."""
    with run.part("generate"):
        cfg, template = seed_year(run, model)
    with run.part("seed_table"):
        _, res = spawn(run, "seed", {"config": cfg, "table": run.path("table"), "manifest": run.path("seed.manifest.json"),
                                     "meta_dir": run.path("docs_seed"), "job_overhead": True})
    run.context["job_overhead_ms_start"] = res["job_overhead_ms_end"]
    if not run.check(res["rows"] == model.row_count() and res["created"] == model.row_count(),
                     f"cron seed: got {res['rows']} rows, expected {model.row_count()}"):
        raise RuntimeError("seed table is wrong; no cron op can be checked")
    return template


def cron_day(run: Run, model: gen.ObsModel, template: str, op: int, trace: bool,
             replay: dict | None = None) -> tuple[float, dict, tuple[int, int]]:
    """Run cron day ``op`` in a fresh process and check created/replaced
    and the row count."""
    day, expect = next_day(run, model, op)
    req = {"config": template, "day": day.isoformat(), "table": run.path("table"), "op": op,
           "manifest": run.path(f"manifest_{day.isoformat()}.json"), "meta_dir": run.path(f"docs_{op}"),
           "trace": trace, "eventlog_dir": run.path(f"eventlog_op{op}"), "replay": replay}
    wall, res = spawn(run, f"op{op}", req)
    got = (res["created"], res["replaced"], res["rows"])
    run.check(got == (*expect, model.row_count()),
              f"cron op {op} ({day}): got created/replaced/rows {got}, expected {(*expect, model.row_count())}")
    return wall, res, expect


def daily_cron(run: Run) -> None:
    """One cron day per op, each in a fresh driver process."""
    t0 = time.perf_counter()
    model = year_model(run.seed)
    template = cron_setup(run, model)
    run.setup_s = time.perf_counter() - t0
    t_loop = time.perf_counter()
    op = 0
    while op == 0 or run.time_left(t_loop):
        try:
            wall, res, _expect = cron_day(run, model, template, op, trace=False)
        except Exception as e:  # noqa: BLE001
            run.op_error(f"cron op {op}", e)
        else:
            run.op_s.append(wall)
            run.peak_rss_mb = max(run.peak_rss_mb, res["rss_mb"])
            run.untraced_inner_s = res["op_inner_s"]
        op += 1
    if run.trace:
        trace_cron(run, model, template, op)
    run.space = layers.table_space(run.path("table"))


# -- analytic_queries ------------------------------------------------------------


def obs_reads(model: gen.ObsModel, seed: int):
    """Endless rotation of the three observation-read kinds, each with
    its independently computed answer."""
    rng = np.random.default_rng(seed + 104729)
    year_first, year_last = model.start, date(2023, 12, 31)
    k = 0
    while True:
        kind = k % 3
        if kind == 0:
            s = int(rng.integers(0, model.n_stations))
            lo = year_first + timedelta(int(rng.integers(0, (year_last - year_first).days - 89)))
            yield "series_90d", (model.skn[s], lo, lo + timedelta(89)), model.series(s, lo, lo + timedelta(89))
        elif kind == 1:
            m = int(rng.integers(2, 13))
            lo = date(2023, m, 1)
            hi = date(2023 + (m == 12), m % 12 + 1, 1) - timedelta(1)
            yield "month_daily_mean", (lo, hi), model.daily_means(lo, hi)
        else:
            yield "station_annual_total", (year_first, year_last), model.station_totals(year_first, year_last)
        k += 1


def run_read(spark, tr, table: str, kind: str, args: tuple, op: int | None):
    """One observation read through read_table with partition and ranges."""
    from pyspark.sql import functions as F

    from station_data_ingestion_spark import read_table

    lo, hi = args[-2], args[-1]
    with tr.span("snapshot.read_plan", op) as plan:
        df = read_table(spark, table, partition={"datatype": gen.DATATYPE, "period": "day"},
                        ranges={"date": (lo.isoformat(), hi.isoformat())})
    if tr.enabled:
        plan["files"] = len(df.inputFiles())
    df = df.filter(F.col("date").between(lo.isoformat(), hi.isoformat()))
    with tr.span("snapshot.read_action", op):
        if kind == "series_90d":
            rows = df.filter(F.col("station_id") == args[0]).select("date", "value").collect()
            got = sorted((r["date"], r["value"]) for r in rows)
        elif kind == "month_daily_mean":
            got = {r["date"]: r["m"] for r in df.groupBy("date").agg(F.avg("value").alias("m")).collect()}
        else:
            got = {r["station_id"]: r["t"] for r in df.groupBy("station_id").agg(F.sum("value").alias("t")).collect()}
    return got


def same_answer(kind: str, got, want) -> bool:
    if kind == "series_90d":
        return got == want
    return got.keys() == want.keys() and all(math.isclose(got[k], want[k], rel_tol=1e-9, abs_tol=1e-6) for k in want)


def compare_with_oracle(con, name: str, cols: list[str], types: list[str], rows: list[tuple]) -> str | None:
    """Spark rows against the query's DuckDB oracle, with the comparison
    of tools/check_correctness.py. Returns a problem or None."""
    from tools.check_correctness import canon_rows, complex_cols

    from station_data_ingestion_spark.queries import QUERIES

    oracle = QUERIES[name].oracle
    if oracle is None:
        return "no oracle"
    rel = con.sql(oracle)
    d_cols, d_rows = list(rel.columns), rel.fetchall()
    if complex_cols(cols, types):
        return f"complex-typed columns {complex_cols(cols, types)}"
    if sorted(cols) != sorted(d_cols):
        return f"columns {sorted(cols)} vs {sorted(d_cols)}"
    if len(rows) != len(d_rows):
        return f"rowcount {len(rows)} vs {len(d_rows)}"
    if canon_rows(cols, rows) != canon_rows(d_cols, d_rows):
        return "values differ"
    return None


def analytic_queries(run: Run) -> None:
    """Observation reads against a table with several versions; traced
    and report runs add one pass over the registry queries."""
    t0 = time.perf_counter()
    model = year_model(run.seed)
    with run.part("session"):
        run.start_spark()
    table = run.path("table")
    with run.part("generate"):
        cfg, template = seed_year(run, model)
    with run.part("seed_table"):
        res = layers.ingest_op(run.spark, Tracer(False), layers.templated_job(cfg, None), table, None,
                               run.path("docs"), -1)
        ok = run.check(res["rows"] == model.row_count(), f"analytic seed: {res['rows']} rows, expected {model.row_count()}")
    with run.part("dailies"):
        for i in range(ANALYTIC_DAILIES):
            day, expect = next_day(run, model, i)
            res = layers.ingest_op(run.spark, Tracer(False), layers.templated_job(template, day), table,
                                   None, run.path("docs"), -1)
            ok &= run.check((res["created"], res["replaced"], res["rows"]) == (*expect, model.row_count()),
                            f"analytic daily {day}: got {res}, expected {expect}")
    if not ok:
        raise RuntimeError("observation table is wrong; reads cannot be checked")
    reads = obs_reads(model, run.seed)
    with run.part("warmup"):
        # the first reads of each kind compile their plans: timed, they
        # would set the p90
        for _ in range(WARMUP_READS):
            kind, args, want = next(reads)
            run.check(same_answer(kind, run_read(run.spark, Tracer(False), table, kind, args, None), want),
                      f"warm-up read {kind} {args}: wrong answer")
    run.setup_s = time.perf_counter() - t0
    run.context["job_overhead_ms_start"] = job_overhead_ms(run.spark)

    # observation reads: at least MIN_READS, and until --seconds
    t_loop = time.perf_counter()
    n = 0
    while n < MIN_READS or run.time_left(t_loop):
        kind, args, want = next(reads)
        t = time.perf_counter()
        try:
            got = run_read(run.spark, run.tr, table, kind, args, n)
        except Exception as e:  # noqa: BLE001
            run.op_error(f"read {n} {kind}", e)
        else:
            run.op_s.append(time.perf_counter() - t)
            run.check(same_answer(kind, got, want), f"read {n} {kind} {args}: wrong answer")
        n += 1
    run.space = layers.table_space(table)
    run.peak_rss_mb = run.rss_now()
    if run.trace:
        quiet = []
        for i in range(TRACE_OVERHEAD_READS):
            kind, args, _want = next(reads)
            t = time.perf_counter()
            run_read(run.spark, Tracer(False), table, kind, args, None)
            quiet.append(time.perf_counter() - t)
        run.layer["trace.overhead_s"] = quantile(run.op_s, 0.5) - quantile(quiet, 0.5)
    if run.trace or run.registry:
        registry_pass(run)
    run.context["job_overhead_ms_end"] = job_overhead_ms(run.spark)
    if run.trace:
        run.stop_spark()
        groups = read_event_log(event_log_file(run.path("eventlog")))
        layer_metrics(run, run.tr.spans, groups, None, None)


def registry_pass(run: Run) -> None:
    """One pass over REGISTRY_QUERIES on generated TPC-H-shaped tables.
    Rows are collected in the timed window and compared with each
    query's DuckDB oracle after it."""
    import duckdb

    from station_data_ingestion_spark.queries import QUERIES

    sf_dir = run.path("sf")
    gen.write_query_tables(sf_dir, run.seed, QUERY_SCALE)
    results = {}
    with run.tr.span("query.pass") as qp:
        for name in REGISTRY_QUERIES:
            try:
                with run.tr.span(f"query.{name}"):
                    df = QUERIES[name].fn(run.spark, sf_dir)
                    rows = [tuple(r) for r in df.collect()]
                results[name] = (df.columns, [f.dataType.simpleString() for f in df.schema.fields], rows)
            except Exception as e:  # noqa: BLE001
                run.op_error(f"query {name}", e)
    run.layer["query.pass_s"] = span_s(qp)
    con = duckdb.connect()
    for t in gen_tables(sf_dir):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name, (cols, types, rows) in results.items():
        problem = compare_with_oracle(con, name, cols, types, rows)
        run.check(problem is None, f"query {name}: {problem}")
    con.close()


def gen_tables(sf_dir: str) -> list[str]:
    return sorted(n[:-8] for n in os.listdir(sf_dir) if n.endswith(".parquet"))


# -- traced runs: per-layer figures -----------------------------------------------


def trace_ingest_replay(run: Run, cfg: str, expect: tuple[int, int]) -> None:
    """Backfill: a warm run_job, then the layer replay into an empty table."""
    job = layers.templated_job(cfg, None)
    with run.tr.span("runner.run_job_warm"):
        from station_data_ingestion_spark import run_job

        run_job(run.spark, job, run.path("warm"), None,
                metadata_transport=layers.docs_transport(run.path("docs_warm")))
    with run.tr.span("replay"):
        rep = layers.replay_layers(run.spark, run.tr, job, run.path("replay"), run.path("docs_replay"), None)
    run.check((rep["created"], rep["replaced"]) == expect, f"layer replay: {rep} against {expect}")
    run.stop_spark()
    groups = read_event_log(event_log_file(run.path("eventlog")))
    layer_metrics(run, run.tr.spans, groups, rep, run.path("docs_replay"))


def trace_cron(run: Run, model: gen.ObsModel, template: str, op: int) -> None:
    """Cron: one traced op in a fresh process, which then replays the
    same day warm and layer by layer on copies of its starting table."""
    copies = {}
    for key in ("warm", "layers"):
        copies[key] = run.path(f"replay_{key}")
        shutil.copytree(run.path("table"), copies[key])
    _wall, res, expect = cron_day(run, model, template, op, trace=True, replay=copies)
    run.layer["trace.overhead_s"] = res["op_inner_s"] - run.untraced_inner_s
    run.check((res["replay"]["created"], res["replay"]["replaced"]) == expect,
              f"cron layer replay: {res['replay']} against {expect}")
    run.context["job_overhead_ms_end"] = res["job_overhead_ms_end"]
    groups = read_event_log(event_log_file(run.path(f"eventlog_op{op}")))
    layer_metrics(run, res["spans"], groups, res["replay"], copies["layers"] + ".docs")


def _sum(groups: dict, spans: list[dict], field: str) -> int:
    return sum(groups.get(s["group"], {}).get(field, 0) for s in spans)


def layer_metrics(run: Run, spans: list[dict], groups: dict, rep: dict | None, docs_dir: str | None) -> None:
    """Per-layer figures from spans, job groups and the event log."""
    run.spans = spans
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)

    def secs(name: str) -> float:
        return sum(span_s(s) for s in by.get(name, []))

    def jobs(name: str) -> int:
        return sum(s["jobs"] or 0 for s in by.get(name, []))

    L = run.layer
    L["session.import_s"] = secs("session.import")
    L["session.get_spark_s"] = secs("session.get_spark")
    rj = by.get("runner.run_job", [])
    if rj:
        t = rj[-1]
        L["runner.run_job_s"] = span_s(t)
        L["runner.jobs"] = t["jobs"] or 0
        jo = run.context.get("job_overhead_ms_start", 0.0)
        L["runner.sched_share"] = L["runner.jobs"] * jo / 1000 / span_s(t)
    L["runner.run_job_warm_s"] = secs("runner.run_job_warm")
    if rep is not None:
        L["wide_csv.classify_s"] = secs("wide_csv.classify")
        L["wide_csv.parse_s"] = secs("wide_csv.parse")
        L["wide_csv.parse_jobs"] = jobs("wide_csv.parse")
        L["wide_csv.cells_in"] = rep["cells_in"]
        L["wide_csv.rows_out"] = _sum(groups, by.get("wide_csv.parse", []), "mip_rows")
        L["wide_csv.rows_per_cell"] = L["wide_csv.rows_out"] / max(rep["cells_in"], 1)
        L["merge.s"] = secs("merge.observed")
        L["merge.target_rows_read"] = rep["target_rows_read"]
        L["merge.shuffle_bytes"] = _sum(groups, by.get("merge.observed", []), "shuffle_bytes")
        L["merge.created"] = rep["created"]
        L["merge.replaced"] = rep["replaced"]
        commits = by.get("snapshot.commit", [])
        L["snapshot.commit_s"] = secs("snapshot.commit")
        L["snapshot.commit_jobs"] = jobs("snapshot.commit")
        L["snapshot.files_written"] = _sum(groups, commits, "files_written")
        L["snapshot.bytes_written"] = _sum(groups, commits, "bytes_written")
        changed = rep["created"] + rep["replaced"]
        L["snapshot.rows_written_per_changed_row"] = _sum(groups, commits, "records_written") / max(changed, 1)
        L["sinks.write_docs_s"] = secs("sinks.write_docs")
        L["sinks.docs_written"] = count_docs(docs_dir)
        parts = ("wide_csv.classify", "wide_csv.parse", "sinks.write_docs", "snapshot.read_slice",
                 "merge.observed", "snapshot.commit", "snapshot.read_table")
        replay_spans = [s for s in spans if s["name"] == "replay"]
        L["replay.layer_sum_s"] = sum(
            span_s(s) for s in spans if s["name"] in parts and s["parent"] == replay_spans[-1]["id"]
        )
        L["replay.self_s"] = self_time(spans, replay_spans[-1])
        L["replay.fusion_gap_s"] = L["replay.layer_sum_s"] - L["runner.run_job_warm_s"]
    reads = by.get("snapshot.read_plan", [])
    plan_read = reads or [s for s in by.get("snapshot.read_table", []) if "files" in s]
    if plan_read:
        L["snapshot.read_plan_s"] = quantile([span_s(s) for s in plan_read], 0.5)
        L["snapshot.files_scanned"] = quantile([s.get("files", 0) for s in plan_read], 0.5)
    actions = by.get("snapshot.read_action", []) or by.get("snapshot.count", [])
    if actions:
        L["snapshot.bytes_scanned"] = _sum(groups, actions, "bytes_read") / len(actions)
    for name in REGISTRY_QUERIES:
        L[f"query.{name}_s"] = secs(f"query.{name}")
        L[f"query.{name}_jobs"] = jobs(f"query.{name}")


def count_docs(docs_dir: str | None) -> int:
    if not docs_dir or not os.path.isdir(docs_dir):
        return 0
    n = 0
    for name in os.listdir(docs_dir):
        with open(os.path.join(docs_dir, name), encoding="utf-8") as f:
            n += sum(1 for line in f if line.strip())
    return n


PER_LAYER = (
    "session.import_s", "session.get_spark_s", "session.peak_rss_mb",
    "runner.run_job_s", "runner.run_job_warm_s", "runner.jobs", "runner.sched_share",
    "wide_csv.classify_s", "wide_csv.parse_s", "wide_csv.parse_jobs", "wide_csv.cells_in",
    "wide_csv.rows_out", "wide_csv.rows_per_cell",
    "merge.s", "merge.target_rows_read", "merge.shuffle_bytes", "merge.created", "merge.replaced",
    "snapshot.commit_s", "snapshot.commit_jobs", "snapshot.files_written", "snapshot.bytes_written",
    "snapshot.rows_written_per_changed_row",
    "snapshot.read_plan_s", "snapshot.files_scanned", "snapshot.bytes_scanned",
    "snapshot.versions", "snapshot.live_files", "snapshot.files_on_disk",
    "sinks.write_docs_s", "sinks.docs_written",
    "query.pass_s",
    *[f"query.{q}_{k}" for q in REGISTRY_QUERIES for k in ("s", "jobs")],
    "replay.layer_sum_s", "replay.self_s", "replay.fusion_gap_s", "trace.overhead_s",
    "env.job_overhead_ms_start", "env.job_overhead_ms_end", "env.nproc",
)


def result(run: Run) -> dict:
    """The result line. A failed run reports 0 for what it could not measure."""
    if run.trace:
        L = dict(run.layer)
        L["snapshot.versions"] = run.space.get("versions", 0)
        L["snapshot.live_files"] = run.space.get("live_files", 0)
        L["snapshot.files_on_disk"] = run.space.get("files_on_disk", 0)
        L["env.job_overhead_ms_start"] = run.context.get("job_overhead_ms_start", 0.0)
        L["env.job_overhead_ms_end"] = run.context.get("job_overhead_ms_end", 0.0)
        L["env.nproc"] = os.cpu_count()
        L["session.peak_rss_mb"] = run.peak_rss_mb
        metrics = {k: {"value": float(L.get(k, 0.0)), "unit": unit_of(k)} for k in PER_LAYER}
    else:
        values = {
            "setup_s": run.setup_s,
            "op_s_p50": quantile(run.op_s, 0.5) if run.op_s else 0.0,
            "op_s_p90": quantile(run.op_s, 0.9) if run.op_s else 0.0,
            "stored_bytes_per_live_byte": run.space["stored_bytes"] / run.space["live_bytes"] if run.space else 0.0,
        }
        metrics = {k: {"value": v, "unit": E2E[k]} for k, v in values.items()}
    return {"correct": run.failed == 0 and run.attempted > 0, "attempted": run.attempted,
            "failed": run.failed, "metrics": metrics}


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if "job_overhead_ms" in name:
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name and "per" not in name:
        return "bytes"
    if name.endswith(("share", "per_cell", "per_changed_row")):
        return "ratio"
    return "count"


def run_one(workload: str, seed: int, seconds: int, trace: bool, registry: bool = False) -> tuple[Run, dict]:
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    set_env(work)
    run = Run(workload, seed, seconds, trace, registry, work)
    try:
        {"backfill": backfill, "daily_cron": daily_cron, "analytic_queries": analytic_queries}[workload](run)
    except Exception as e:  # noqa: BLE001 -- the run still reports what it attempted
        run.op_error(f"{workload} aborted", e)
    finally:
        run.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it
    run.context["op_s"] = [round(x, 4) for x in run.op_s]
    return run, result(run)


def check_checkout() -> None:
    """Refuse to run outside a checkout that holds the engine."""
    needed = ("station_data_ingestion_spark/__init__.py", "tools/check_correctness.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a station_data_ingestion_spark checkout (missing {missing})", file=sys.stderr)
        sys.exit(2)


def report(runs: dict[str, tuple[Run, dict]]) -> dict:
    """The product-path report: each named metric on the workload it
    describes, plus ops_failed_ratio over every op of every workload."""
    def e2e(w: str, k: str) -> float:
        return runs[w][1]["metrics"][k]["value"]

    def ratio(w: str) -> float:
        return runs[w][0].failed / max(runs[w][0].attempted, 1)

    rows = [(f"setup_s[{w}]", e2e(w, "setup_s"), "s") for w in WORKLOADS]
    rows += [
        ("backfill_s", e2e("backfill", "op_s_p50"), "s"),
        ("cron_s_p50", e2e("daily_cron", "op_s_p50"), "s"),
        ("cron_peak_rss_mb", runs["daily_cron"][0].peak_rss_mb, "MB"),
        ("stored_bytes_per_live_byte[daily_cron]", e2e("daily_cron", "stored_bytes_per_live_byte"), "ratio"),
        ("stored_bytes_per_live_byte[backfill]", e2e("backfill", "stored_bytes_per_live_byte"), "ratio"),
        ("obs_read_s_p50", e2e("analytic_queries", "op_s_p50"), "s"),
        ("obs_read_s_p90", e2e("analytic_queries", "op_s_p90"), "s"),
        ("registry_pass_s", runs["analytic_queries"][0].layer.get("query.pass_s", 0.0), "s"),
    ]
    rows += [(f"ops_failed_ratio[{w}]", ratio(w), "ratio") for w in WORKLOADS]
    attempted = sum(r.attempted for r, _ in runs.values())
    failed = sum(r.failed for r, _ in runs.values())
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {name: {"value": v, "unit": u} for name, v, u in rows}}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    check_checkout()
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    every = args.workload == "all"
    runs = {}
    for name in WORKLOADS if every else (args.workload,):
        run, res = run_one(name, args.seed, args.seconds, bool(args.trace) and not every, registry=every)
        runs[name] = run, res
        for k, m in res["metrics"].items():
            print(f"{name:17s} {k:45s} {m['value']:14.4f} {m['unit']}")
        print(f"{name:17s} {'ops_failed_ratio':45s} {run.failed / max(run.attempted, 1):14.4f} "
              f"ratio ({run.failed}/{run.attempted})")
        if run.spans:
            print(json.dumps({"spans": run.spans}))
        print(json.dumps({"context": run.context}))
    if every:
        res = report(runs)
        for k, m in res["metrics"].items():
            print(f"{'report':17s} {k:45s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps(res))


if __name__ == "__main__":
    # a SIGTERM unwinds through run_one's cleanup, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
