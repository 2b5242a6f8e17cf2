"""Tests of the benchmark itself: its generator, its Spark event-log and
job-group reader, and its failure accounting.

Run from the root of a checkout: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
from datetime import date, timedelta

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import gen  # noqa: E402


def recount(path: str, first: date, last: date) -> dict[tuple[str, str], float]:
    """Independent reading of a wide CSV: {(station, iso date): value} for
    the non-NA, non-missing cells of first..last."""
    df = pd.read_csv(path, dtype=str, keep_default_na=False, header=0)
    # pandas pads a short row's missing trailing fields with NaN
    out = {}
    d = first
    while d <= last:
        col = gen.header_of(d)
        if col in df.columns:
            for skn, v in zip(df["SKN"], df[col]):
                if isinstance(v, str) and v not in ("", "NA"):
                    out[(skn, d.isoformat())] = float(v)
        d += timedelta(1)
    return out


def test_backfill_counts_match_a_pandas_recount(tmp_path):
    model = gen.ObsModel(5, 120, date(2023, 1, 1), 365)
    files = gen.month_files(model, 2023, 3, str(tmp_path))
    cells = {}
    for m, p in enumerate(files, start=1):
        first, last = gen.month_span(2023, m)
        cells.update(recount(p, first, last))
    assert model.row_count() == len(cells)
    # truncated rows and NA cells really occur, and are not counted
    assert (model.trunc > 0).sum() >= 2
    assert model.row_count() < 120 * (31 + 28 + 31)
    s = 7
    got = model.series(s, date(2023, 2, 1), date(2023, 2, 28))
    want = sorted((d, v) for (k, d), v in cells.items() if k == model.skn[s] and d.startswith("2023-02"))
    assert got == want


def test_cron_day_created_and_replaced_match_a_recount(tmp_path):
    model = gen.ObsModel(9, 150, date(2023, 1, 2), 365 + 5)
    seed_last = date(2024, 1, 1)
    model.write_csv(str(tmp_path / "seed.csv"), model.start, seed_last)
    model.apply_file(model.start, seed_last, seed_last)
    table = recount(str(tmp_path / "seed.csv"), model.start, seed_last)
    for i in range(3):
        day = date(2024, 1, 2) + timedelta(i)
        prev = day - timedelta(1)
        changed = model.revise(prev)
        path = str(tmp_path / f"month{i}.csv")
        model.write_csv(path, date(2024, 1, 1), day)
        created, replaced = model.apply_file(prev, day, day)
        window = recount(path, prev, day)
        assert created == sum(1 for k in window if k not in table)
        assert replaced == sum(1 for k, v in window.items() if k in table and table[k] != v)
        assert 0 < replaced <= changed
        table.update(window)
        assert model.row_count() == len(table)


def test_station_ids_stay_strings():
    model = gen.ObsModel(1, 40, date(2023, 1, 1), 10)
    assert any(s.endswith("0") and "." in s for s in model.skn)
    assert len(set(model.skn)) == 40


def test_query_tables_keep_registry_schemas(tmp_path):
    import pyarrow.parquet as pq

    rows = gen.write_query_tables(str(tmp_path), seed=3, scale=0.001)
    assert set(rows) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    li = pq.read_schema(tmp_path / "lineitem.parquet")
    assert str(li.field("l_shipdate").type) == "timestamp[us]"
    assert str(li.field("l_linenumber").type) == "int32"
    again = tmp_path / "again"
    gen.write_query_tables(str(again), seed=3, scale=0.001)
    a = pq.read_table(tmp_path / "documents.parquet").to_pandas()
    b = pq.read_table(again / "documents.parquet").to_pandas()
    assert a.equals(b)


@pytest.fixture()
def bench_env():
    """The benchmark module, with the process environment it sets for a
    run pointed at a scratch directory, restored afterwards."""
    import shutil
    import tempfile

    import run as bench

    work = os.path.join(bench.ROOT, ".perfbench_work", f"tests-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    saved, saved_tmp = dict(os.environ), tempfile.tempdir
    bench.set_env(work)
    yield bench, work
    os.environ.clear()
    os.environ.update(saved)
    tempfile.tempdir = saved_tmp
    shutil.rmtree(work, ignore_errors=True)


def test_injected_wrong_answer_counts_in_failed(bench_env, monkeypatch):
    bench, _work = bench_env
    monkeypatch.setattr(bench, "N_STATIONS", 30)
    monkeypatch.setattr(bench, "BACKFILL_MONTHS", 1)
    real = gen.ObsModel.row_count
    # the expected answer is off by one row: every op must be counted failed
    monkeypatch.setattr(gen.ObsModel, "row_count", lambda self: real(self) + 1)
    run, res = bench.run_one("backfill", seed=4, seconds=0, trace=False)
    assert res["attempted"] >= 1
    assert res["failed"] == res["attempted"]
    assert res["correct"] is False
    assert run.failed / run.attempted == 1.0


def test_event_log_and_job_groups_count_a_tiny_job(bench_env):
    bench, work = bench_env
    from proc import stop_spark
    from spans import Tracer, event_log_file, eventlog_conf, read_event_log

    from station_data_ingestion_spark import get_spark

    log_dir = os.path.join(work, "eventlog")
    spark = get_spark(app_name="perfbench-test", extra_conf=eventlog_conf(log_dir))
    tr = Tracer(True)
    tr.attach(spark)
    out = os.path.join(work, "tiny")
    with tr.span("write") as w:
        spark.range(0, 1000, numPartitions=3).write.parquet(out)
    with tr.span("shuffle") as sh:
        rows = spark.range(0, 1000, numPartitions=3).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    with tr.span("nothing") as nothing:
        pass
    stop_spark(spark)
    assert len(rows) == 7
    assert w["jobs"] == 1
    assert sh["jobs"] >= 1
    assert nothing["jobs"] == 0
    groups = read_event_log(event_log_file(log_dir))
    g = groups[w["group"]]
    assert g["jobs"] == w["jobs"]
    assert g["files_written"] == 3
    assert g["records_written"] == 1000
    assert g["bytes_written"] == sum(
        os.path.getsize(os.path.join(out, n)) for n in os.listdir(out) if n.endswith(".parquet")
    )
    assert groups[sh["group"]]["jobs"] == sh["jobs"]
    assert groups[sh["group"]]["shuffle_bytes"] > 0
    assert nothing["group"] not in groups


def test_quantile_matches_numpy():
    import run as bench

    xs = list(np.random.default_rng(0).random(37))
    for q in (0.0, 0.5, 0.9, 1.0):
        assert bench.quantile(xs, q) == pytest.approx(float(np.quantile(xs, q)))
