from datetime import date

import pytest

from station_data_ingestion_spark.plans.jobspec import DataItemSpec, JobSpec
from station_data_ingestion_spark.plans.runner import Manifest, run_job, template_dates
from station_data_ingestion_spark.plans.snapshot_store import read_table

pytestmark = pytest.mark.ingest


def test_template_dates():
    out = template_dates('{"start_date": "%y-%m-%d"}', on=date(2022, 3, 5))
    assert out == '{"start_date": "2022-03-05"}'


def make_job(csv_path):
    item = DataItemSpec(
        files=[csv_path],
        datatype="temperature",
        period="day",
        fill="raw",
        start_date="2022-03-02",
        end_date="2022-03-05",
        additional_properties={"aggregation": "min"},
        additional_key_properties=["aggregation"],
    )
    return JobSpec(data=[item])


def test_run_job_end_to_end_and_resume(spark, wide_csv_day, tmp_path):
    table = str(tmp_path / "obs_table")
    manifest = str(tmp_path / "manifest.json")
    job = make_job(wide_csv_day)

    stats = run_job(spark, job, table, manifest)
    s = stats[wide_csv_day]
    assert s.created == 6 and s.replaced == 0  # 3 + 3 non-NA in-range cells

    obs = read_table(spark, table)
    assert obs.count() == 6
    assert set(obs.select("datatype").distinct().toPandas()["datatype"]) == {"temperature"}

    # resume: file marked complete -> skipped entirely
    stats2 = run_job(spark, job, table, manifest)
    assert stats2 == {}
    assert Manifest(manifest).all_complete([wide_csv_day])

    # re-run without manifest: idempotent (all no-ops)
    stats3 = run_job(spark, job, table, None)
    s3 = stats3[wide_csv_day]
    assert s3.created == 0 and s3.replaced == 0
    assert read_table(spark, table).count() == 6


def test_zero_row_run_then_rerun(spark, tmp_path):
    """A file with no in-range data writes an empty table; re-running against
    that empty table dir must not crash (UNABLE_TO_INFER_SCHEMA guard)."""
    p = tmp_path / "empty_range.csv"
    p.write_text("SKN,X2021.01.01\n7,5.5\n")
    item = DataItemSpec(
        files=[str(p)], datatype="t", period="day", fill="raw",
        start_date="2022-03-01", end_date="2022-03-03",
    )
    job = JobSpec(data=[item])
    table = str(tmp_path / "obs_table")
    s1 = run_job(spark, job, table, None)[str(p)]
    assert s1.created == 0 and s1.replaced == 0
    s2 = run_job(spark, job, table, None)[str(p)]
    assert s2.created == 0 and s2.replaced == 0


def test_run_job_writes_sparse_metadata(spark, tmp_path, wide_csv_day):
    """With a metadata transport, run_job emits sparse station docs:
    nodata fields dropped per record, station_group injected."""
    from station_data_ingestion_spark.operators.sinks import (
        jsonl_dir_transport,
        read_jsonl_docs,
    )
    from station_data_ingestion_spark.plans.jobspec import JobSpec
    from station_data_ingestion_spark.plans.runner import run_job

    out = str(tmp_path / "meta_docs")
    cfg = {
        "data": [
            {
                "files": [wide_csv_day],
                "datatype": "temperature",
                "period": "day",
                "fill": "raw",
                "start_date": "2022-03-01",
                "end_date": "2022-03-06",
            }
        ]
    }
    run_job(
        spark,
        JobSpec.from_dict(cfg),
        str(tmp_path / "obs"),
        str(tmp_path / "m.json"),
        metadata_transport=lambda: jsonl_dir_transport(out),
    )
    docs = {d["skn"]: d for d in read_jsonl_docs(out) if "skn" in d}
    kula = docs["39.20"]
    assert kula["station_group"] == "hawaii_climate_primary"
    assert kula["name"] == "Kula"
    assert "observer" not in kula  # NA field dropped per record
    assert docs["0042"]["observer"] == "Obs2"


def test_run_job_batch_files_mode(spark, tmp_path):
    """batch_files=True: one plan over all pending files, same final
    table as the sequential loop, manifest marks every file complete."""
    import json

    from station_data_ingestion_spark.plans.jobspec import JobSpec
    from station_data_ingestion_spark.plans.runner import run_job

    (tmp_path / "jan.csv").write_text("SKN,X2022.01.01,X2022.01.02\n1,1.0,NA\n2,2.0,2.5\n")
    (tmp_path / "feb.csv").write_text("SKN,X2022.02.01\n1,3.5\n")
    cfg = {
        "data": [
            {
                "files": [str(tmp_path / "jan.csv"), str(tmp_path / "feb.csv")],
                "datatype": "temperature",
                "period": "day",
                "fill": "raw",
                "start_date": "2022-01-01",
                "end_date": "2022-12-31",
            }
        ]
    }
    seq_table = str(tmp_path / "obs_seq")
    bat_table = str(tmp_path / "obs_bat")
    run_job(spark, JobSpec.from_dict(cfg), seq_table)
    manifest_path = str(tmp_path / "manifest.json")
    stats = run_job(
        spark, JobSpec.from_dict(cfg), bat_table, manifest_path,
        batch_files=True,
    )
    assert set(stats) == set(cfg["data"][0]["files"])
    assert all(s.created == 4 for s in stats.values())  # batch totals
    a = read_table(spark, seq_table)
    b = read_table(spark, bat_table)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    m = json.load(open(manifest_path))
    assert all(m[f]["complete"] for f in cfg["data"][0]["files"])
    # additive stats: totals live ONCE on the batch record, never per file
    assert all("created" not in m[f] for f in cfg["data"][0]["files"])
    batches = list(m["__batches__"].values())
    assert len(batches) == 1 and batches[0]["created"] == 4
    assert sorted(batches[0]["files"]) == sorted(cfg["data"][0]["files"])
    # resume: everything complete -> second batched run is a no-op
    again = run_job(
        spark, JobSpec.from_dict(cfg), bat_table, manifest_path,
        batch_files=True,
    )
    assert again == {}


def _big_wide_csv(tmp_path, n_rows=40):
    header = "SKN,Station.Name," + ",".join(
        f"X2022.03.{d:02d}" for d in range(1, 6)
    )
    rows = [
        f"s{i:03d},St{i}," + ",".join(f"{i}.{d}" for d in range(1, 6))
        for i in range(n_rows)
    ]
    p = tmp_path / "big_wide.csv"
    p.write_text(header + "\n" + "\n".join(rows) + "\n")
    return str(p)


def _ranged_job(csv_path):
    item = DataItemSpec(
        files=[csv_path],
        datatype="temperature",
        period="day",
        fill="raw",
        start_date="2022-03-01",
        end_date="2022-03-05",
    )
    return JobSpec(data=[item])


def test_mid_file_resume_reingests_only_unfinished_ranges(
    spark, tmp_path, monkeypatch
):
    """Kill mid-file, resume: only unfinished byte ranges re-ingest and the
    final table equals an uninterrupted run [reference: README.md:41-43]."""
    import station_data_ingestion_spark.plans.runner as runner_mod
    from station_data_ingestion_spark.plans.snapshot_store import read_table

    csv = _big_wide_csv(tmp_path)
    baseline_table = str(tmp_path / "baseline_run")
    run_job(spark, _ranged_job(csv), baseline_table)  # uninterrupted baseline
    want = sorted(
        map(tuple, read_table(spark, baseline_table).select(
            "station_id", "date", "value").collect())
    )
    assert len(want) == 40 * 5

    table = str(tmp_path / "ranged_run")
    manifest = str(tmp_path / "m.json")
    real_merge = runner_mod._merge_into_table
    calls = {"n": 0}

    def dying_merge(*a, **kw):
        calls["n"] += 1
        if calls["n"] >= 3:
            raise RuntimeError("simulated crash mid-file")
        return real_merge(*a, **kw)

    monkeypatch.setattr(runner_mod, "_merge_into_table", dying_merge)
    try:
        run_job(
            spark, _ranged_job(csv), table, manifest,
            resume_ranges_bytes=150, ranges_per_commit=2,
        )
        raise AssertionError("expected the simulated crash")
    except RuntimeError as e:
        assert "simulated crash" in str(e)
    monkeypatch.setattr(runner_mod, "_merge_into_table", real_merge)

    st = Manifest(manifest).range_state(csv)
    n_done = len(st["ranges"])
    assert n_done == 4  # two groups of two ranges committed before death
    assert not Manifest(manifest).is_complete(csv)

    # resume: re-ingests only the remaining ranges
    calls2 = {"n": 0}

    def counting_merge(*a, **kw):
        calls2["n"] += 1
        return real_merge(*a, **kw)

    monkeypatch.setattr(runner_mod, "_merge_into_table", counting_merge)
    stats = run_job(
        spark, _ranged_job(csv), table, manifest,
        resume_ranges_bytes=150, ranges_per_commit=2,
    )
    got = sorted(
        map(tuple, read_table(spark, table).select(
            "station_id", "date", "value").collect())
    )
    assert got == want
    entry = Manifest(manifest).state[csv]
    assert entry["complete"] and entry["created"] == 40 * 5  # additive total
    import math
    total_ranges = len(entry["ranges"])
    remaining_groups = math.ceil((total_ranges - n_done) / 2)
    assert calls2["n"] == remaining_groups  # completed ranges NOT re-merged
    # third run: file complete -> no work at all
    assert run_job(
        spark, _ranged_job(csv), table, manifest,
        resume_ranges_bytes=150, ranges_per_commit=2,
    ) == {}
    assert 0 < stats[csv].created < 40 * 5  # this run's ranges only


def test_concurrent_merges_same_slice_never_lose_updates(spark, tmp_path):
    """Two merges race on ONE (datatype, period) slice: the loser's CAS
    publish fails (table advanced past the version it merged against),
    and the redo loop re-reads + re-merges — the rival's rows survive.
    Under last-publisher-wins rebase they would be silently dropped."""
    from station_data_ingestion_spark.plans.runner import _merge_into_table
    from station_data_ingestion_spark.plans.snapshot_store import SnapshotTable

    table = str(tmp_path / "obs_race")
    item = DataItemSpec(
        files=[], datatype="temperature", period="day", fill="raw",
        start_date="2022-03-01", end_date="2022-03-31",
    )

    def obs(station, value):
        return spark.createDataFrame(
            [(station, "2022-03-01", value, "temperature", "day", "raw")],
            "station_id string, date string, value double, "
            "datatype string, period string, fill string",
        )

    # seed (also exercises the bootstrap CAS path, expected_version=0)
    _merge_into_table(spark, obs("1", 1.0), item, table)

    orig = SnapshotTable._write_manifest_exclusive
    state = {"fired": False}

    def hooked(self, version, manifest):
        if not state["fired"]:
            state["fired"] = True
            # rival merge lands BETWEEN writer1's read and its publish
            s = _merge_into_table(spark, obs("3", 3.0), item, table)
            assert s.created == 1
        return orig(self, version, manifest)

    SnapshotTable._write_manifest_exclusive = hooked
    try:
        stats = _merge_into_table(spark, obs("2", 2.0), item, table)
    finally:
        SnapshotTable._write_manifest_exclusive = orig
    assert state["fired"]
    assert stats.created == 1

    got = {(r.station_id, r.value) for r in read_table(spark, table).collect()}
    assert got == {("1", 1.0), ("2", 2.0), ("3", 3.0)}, got


_MODES = {
    "sequential": {},
    "batch_files": {"batch_files": True},
    "ranged": {"resume_ranges_bytes": 150, "ranges_per_commit": 2},
}


@pytest.mark.parametrize("mode", list(_MODES))
def test_repeated_header_name_raises(spark, tmp_path, mode):
    """A repeated header name is one clear driver-side error in every mode
    (not silently dropped columns, not a worker KeyError)."""
    p = tmp_path / "dup.csv"
    p.write_text(
        "SKN,X2022.03.01,X2022.03.01,X2022.03.02\n"
        + "".join(f"s{i:03d},1.0,2.0,3.0\n" for i in range(20))
    )
    with pytest.raises(ValueError, match=r"repeats column\(s\) \['X2022.03.01'\]"):
        run_job(
            spark, _ranged_job(str(p)), str(tmp_path / "obs"),
            str(tmp_path / "m.json"), **_MODES[mode],
        )


@pytest.fixture(scope="module")
def crash_inputs(spark, tmp_path_factory):
    """Two key-disjoint 40-station files and the table an uninterrupted
    run builds from them."""
    d = tmp_path_factory.mktemp("crash_inputs")
    files = []
    for prefix in ("a", "b"):
        header = "SKN,Station.Name," + ",".join(f"X2022.03.{x:02d}" for x in range(1, 6))
        rows = [
            f"{prefix}{i:03d},St{i}," + ",".join(f"{i}.{x}" for x in range(1, 6))
            for i in range(40)
        ]
        p = d / f"{prefix}.csv"
        p.write_text(header + "\n" + "\n".join(rows) + "\n")
        files.append(str(p))
    job = JobSpec(data=[DataItemSpec(
        files=files, datatype="temperature", period="day", fill="raw",
        start_date="2022-03-01", end_date="2022-03-05",
    )])
    run_job(spark, job, str(d / "baseline"))
    return job, _key_rows(spark, str(d / "baseline"))


def _key_rows(spark, table):
    cols = ["station_id", "date", "datatype", "period", "fill", "value"]
    return sorted(map(tuple, read_table(spark, table).select(*cols).collect()))


@pytest.mark.parametrize("point", ["before_publish", "before_record", "mid_group"])
@pytest.mark.parametrize("mode", list(_MODES))
def test_crash_point_rerun_equals_uninterrupted(
    spark, tmp_path, monkeypatch, crash_inputs, mode, point
):
    """Crash at a layer boundary of the run_job loop, re-run: the per-key
    table contents equal an uninterrupted run (exactly-once)."""
    import station_data_ingestion_spark.plans.runner as runner_mod
    from pyspark.sql import functions as F

    from station_data_ingestion_spark.plans.snapshot_store import SnapshotTable

    job, want = crash_inputs
    assert len(want) == 2 * 40 * 5
    table = str(tmp_path / "obs")
    manifest = str(tmp_path / "m.json")
    fired = []

    def once(real):
        def crash(*a, **kw):
            if not fired:
                fired.append(True)
                raise RuntimeError("simulated crash")
            return real(*a, **kw)
        return crash

    if point == "before_publish":  # staged files written, version not published
        monkeypatch.setattr(
            SnapshotTable, "_write_manifest_exclusive",
            once(SnapshotTable._write_manifest_exclusive),
        )
    elif point == "before_record":  # version published, manifest not written
        monkeypatch.setattr(Manifest, "_save", once(Manifest._save))
    else:  # a task of the second file's later group fails mid-job
        real_read = runner_mod.read_wide_units

        def crashing_read(*a, **kw):
            obs = real_read(*a, **kw)
            return obs.withColumn("value", F.when(
                F.col("station_id") == "b030",
                F.raise_error(F.lit("simulated crash")).cast("double"),
            ).otherwise(F.col("value")))

        monkeypatch.setattr(runner_mod, "read_wide_units", crashing_read)
    with pytest.raises(Exception, match="simulated crash"):
        run_job(spark, job, table, manifest, **_MODES[mode])
    monkeypatch.undo()
    assert not Manifest(manifest).all_complete(job.data[0].files)

    run_job(spark, job, table, manifest, **_MODES[mode])
    assert Manifest(manifest).all_complete(job.data[0].files)
    assert _key_rows(spark, table) == want


@pytest.mark.parametrize("mode", list(_MODES))
def test_group_without_units_is_recorded_not_published(spark, tmp_path, mode):
    """A file whose dates are all out of range merges and publishes
    nothing, but its manifest record is still written."""
    from station_data_ingestion_spark.plans.snapshot_store import SnapshotTable

    p = tmp_path / "old.csv"
    p.write_text("SKN,X2021.01.01\n" + "".join(f"s{i:03d},1.0\n" for i in range(20)))
    table, manifest = str(tmp_path / "obs"), str(tmp_path / "m.json")
    stats = run_job(spark, _ranged_job(str(p)), table, manifest, **_MODES[mode])
    assert stats[str(p)].created == 0 and stats[str(p)].replaced == 0
    assert Manifest(manifest).is_complete(str(p))
    assert SnapshotTable(spark, table, ("datatype", "period")).latest_version() is None


def _docs_by_key(out):
    from station_data_ingestion_spark.operators.sinks import read_jsonl_docs

    return {d["skn"]: d for d in read_jsonl_docs(out)}


@pytest.fixture(scope="module")
def crash_docs(spark, tmp_path_factory, crash_inputs):
    """Station docs of an uninterrupted run over the crash inputs."""
    from station_data_ingestion_spark.operators.sinks import jsonl_dir_transport

    d = tmp_path_factory.mktemp("crash_docs")
    out = str(d / "docs")
    run_job(spark, crash_inputs[0], str(d / "obs"),
            metadata_transport=lambda: jsonl_dir_transport(out))
    return _docs_by_key(out)


@pytest.mark.parametrize("mode", list(_MODES))
def test_metadata_sink_failure_raises_unrecorded_then_rerun_writes_docs(
    spark, tmp_path, crash_inputs, crash_docs, mode
):
    """The metadata write runs beside the merge: its failure is raised
    once no Spark job is left running, the file gets no manifest record,
    and a re-run writes every station doc and the same table."""
    from dataclasses import replace

    from station_data_ingestion_spark.operators.sinks import jsonl_dir_transport

    def failing_transport():  # local, so it pickles by value
        def post(chunk):
            raise OSError("metadata sink down")

        return post

    job, want = crash_inputs
    job = replace(job, retries=0)
    files = job.data[0].files
    table, manifest = str(tmp_path / "obs"), str(tmp_path / "m.json")
    with pytest.raises(Exception, match="metadata sink down"):
        run_job(spark, job, table, manifest, metadata_transport=failing_transport,
                **_MODES[mode])
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert files[0] not in Manifest(manifest).state

    out = str(tmp_path / "docs")
    run_job(spark, job, table, manifest,
            metadata_transport=lambda: jsonl_dir_transport(out), **_MODES[mode])
    assert Manifest(manifest).all_complete(files)
    assert _docs_by_key(out) == crash_docs and len(crash_docs) == 80
    assert _key_rows(spark, table) == want


@pytest.mark.parametrize("mode", list(_MODES))
def test_merge_failure_waits_for_metadata_write(spark, tmp_path, mode):
    """A RecordKeyError from the merge is raised only after the slower
    metadata write beside it has finished."""
    from station_data_ingestion_spark.operators.merge import RecordKeyError
    from station_data_ingestion_spark.operators.sinks import (
        jsonl_dir_transport,
        read_jsonl_docs,
    )

    p = tmp_path / "conflict.csv"
    rows = ["s000,A,1.0,1.0", "s000,A,2.0,1.0"]  # same key, different value
    rows += [f"s{i:03d},St{i},1.0,2.0" for i in range(1, 20)]
    p.write_text("SKN,Station.Name,X2022.03.01,X2022.03.02\n" + "\n".join(rows) + "\n")
    out = str(tmp_path / "docs")

    def slow_transport():
        import time

        post = jsonl_dir_transport(out)

        def slow(chunk):
            time.sleep(5)
            post(chunk)

        return slow

    with pytest.raises(RecordKeyError):
        run_job(spark, _ranged_job(str(p)), str(tmp_path / "obs"),
                str(tmp_path / "m.json"), metadata_transport=slow_transport,
                **_MODES[mode])
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # tracker fills async
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert len(read_jsonl_docs(out)) == len(rows)


def _seeded_cron(spark, tmp_path, table):
    """Seed ``table`` with 10 days of a 50-station file; return the cron
    job of a 2-day window over the next file, some of its values revised."""

    def wide(name, days, revised):
        header = "SKN,Station.Name,Island," + ",".join(f"X2022.03.{d:02d}" for d in days)
        rows = [
            f"{i:04d},St{i},NA," + ",".join(
                str(i + d + (0.5 if revised and i % 10 == 0 else 0)) for d in days
            )
            for i in range(50)
        ]
        path = tmp_path / name
        path.write_text(header + "\n" + "\n".join(rows) + "\n")
        return str(path)

    def cron_job(path, start, end):
        return JobSpec(data=[DataItemSpec(
            files=[path], datatype="rainfall", period="day", fill="raw",
            start_date=start, end_date=end,
        )])

    run_job(spark, cron_job(wide("seed.csv", range(1, 11), False),
                            "2022-03-01", "2022-03-10"), table)
    return cron_job(wide("cron.csv", range(1, 13), True), "2022-03-10", "2022-03-11")


def test_cron_run_job_jobs_are_attributed_and_pinned(spark, tmp_path):
    """A cron-shaped run_job (2-day window over a one-file 50-station table,
    some values revised, station metadata on) runs every Spark job in the
    caller's job group, the metadata write included, and runs exactly 4:
    1 docs job beside 3 merge jobs (target shuffle, observation shuffle,
    write). The group is parsed on the driver into a local relation, so
    no job starts a Python worker -- that start, not the job count, was
    the cold cron's critical path -- and its literal key columns stay
    join keys, so the target is shuffled once. A new job here must be a
    deliberate change."""
    from station_data_ingestion_spark.operators.sinks import jsonl_dir_transport

    table = str(tmp_path / "obs")
    cron = _seeded_cron(spark, tmp_path, table)
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()  # the status tracker fills from it, async
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    group = f"cron-guard-{tmp_path.name}"
    sc.setJobGroup(group, "cron-shaped run_job")
    try:
        stats = run_job(
            spark, cron, table, str(tmp_path / "m.json"),
            metadata_transport=lambda: jsonl_dir_transport(str(tmp_path / "docs")),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    assert (stats[cron.data[0].files[0]].created, stats[cron.data[0].files[0]].replaced) == (50, 5)
    assert set(sc.statusTracker().getJobIdsForGroup(None)) - before == set()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4


def test_metadata_is_planned_on_the_docs_thread(spark, tmp_path, monkeypatch):
    """run_job plans the station metadata (the metadata CSV scan and its
    projection) on the station-docs thread, not the caller's, so its cold
    planning runs beside the parse and merge."""
    import threading

    import station_data_ingestion_spark.plans.runner as runner_mod
    from station_data_ingestion_spark.operators.sinks import jsonl_dir_transport

    table = str(tmp_path / "obs")
    cron = _seeded_cron(spark, tmp_path, table)
    threads = []
    for name in ("scan_wide_csv", "metadata_from_wide"):
        real = getattr(runner_mod, name)

        def spy(*a, real=real, name=name, **kw):
            threads.append((name, threading.current_thread().name))
            return real(*a, **kw)

        monkeypatch.setattr(runner_mod, name, spy)
    run_job(
        spark, cron, table, str(tmp_path / "m.json"),
        metadata_transport=lambda: jsonl_dir_transport(str(tmp_path / "docs")),
    )
    assert sorted(n for n, _t in threads) == ["metadata_from_wide", "scan_wide_csv"]
    assert all(t.startswith("station-docs") for _n, t in threads), threads


def test_batch_writes_one_metadata_docs_job(spark, tmp_path, monkeypatch):
    """batch_files writes the station metadata of all its files in one
    docs job (a union, null-extended across differing metadata columns),
    and the docs equal the per-file run's."""
    import json

    import station_data_ingestion_spark.plans.runner as runner_mod
    from station_data_ingestion_spark.operators.sinks import (
        jsonl_dir_transport,
        read_jsonl_docs,
    )

    headers = ["SKN,Station.Name,Island", "SKN,LAT,LON", "SKN,Station.Name,ELEV.m."]
    files = []
    for month, header in enumerate(headers, start=1):
        p = tmp_path / f"m{month}.csv"
        p.write_text(
            f"{header},X2022.{month:02d}.01\n"
            + "".join(f"s{i:02d},v{i},NA,{i}.5\n" for i in range(10))
        )
        files.append(str(p))
    job = JobSpec(data=[DataItemSpec(
        files=files, datatype="t", period="day", fill="raw",
        start_date="2022-01-01", end_date="2022-12-31",
    )])
    calls = []
    real = runner_mod.write_docs

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(runner_mod, "write_docs", counting)
    docs = {}
    for name, batch in (("seq", False), ("bat", True)):
        out = str(tmp_path / f"docs_{name}")
        calls.clear()
        run_job(spark, job, str(tmp_path / name), str(tmp_path / f"{name}.json"),
                metadata_transport=lambda out=out: jsonl_dir_transport(out),
                batch_files=batch)
        docs[name] = (len(calls), sorted(json.dumps(d, sort_keys=True) for d in read_jsonl_docs(out)))
    assert docs["seq"][0] == 3 and docs["bat"][0] == 1
    assert docs["bat"][1] == docs["seq"][1] and len(docs["bat"][1]) == 30


def test_product_path_sets_no_session_conf(spark, tmp_path, monkeypatch):
    """A cron-shaped run_job (station metadata on) and a read_table set no
    session conf. A flip of session-wide conf around a read races every
    other thread of the session: the metadata writer, a streaming
    foreachBatch merge, the caller's own reads."""
    from pyspark.sql.conf import RuntimeConfig

    from station_data_ingestion_spark.operators.sinks import jsonl_dir_transport

    table = str(tmp_path / "obs")
    cron = _seeded_cron(spark, tmp_path, table)
    calls = []
    real_set = RuntimeConfig.set

    def spy(self, *a, **kw):
        calls.append(a)
        return real_set(self, *a, **kw)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    stats = run_job(
        spark, cron, table, str(tmp_path / "m.json"),
        metadata_transport=lambda: jsonl_dir_transport(str(tmp_path / "docs")),
    )
    assert read_table(spark, table).count() == 50 * 11
    monkeypatch.undo()
    assert (stats[cron.data[0].files[0]].created, stats[cron.data[0].files[0]].replaced) == (50, 5)
    assert calls == []


def test_two_merges_and_a_reader_share_one_session(spark, tmp_path):
    """Two merges into two tables run on two threads of one session while
    a third thread reads a third table, all with a numeric-looking
    datatype ('850'): every schema read keeps it a string, both merged
    tables are exact, and the session conf is as it was."""
    import threading

    from station_data_ingestion_spark.plans.runner import _merge_into_table

    item = DataItemSpec(
        files=[], datatype="850", period="day", fill="raw",
        start_date="2022-03-01", end_date="2022-03-31",
    )
    schema = ("station_id string, date string, value double, "
              "datatype string, period string, fill string")
    conf_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    conf_before = spark.conf.get(conf_key)
    reads = str(tmp_path / "read")
    _merge_into_table(spark, spark.createDataFrame(
        [("r", "2022-03-01", 1.0, "850", "day", "raw")], schema), item, reads)
    rounds = 6
    done, errors, dtypes = threading.Event(), [], []

    def merge_rounds(table):
        try:
            for r in range(rounds):
                rows = [(f"s{r}", "2022-03-01", float(r), "850", "day", "raw"),
                        ("s0", "2022-03-02", float(r), "850", "day", "raw")]
                _merge_into_table(spark, spark.createDataFrame(rows, schema), item, table)
        except Exception as e:  # surfaced by the main thread
            errors.append(e)

    def read_loop():
        try:
            while not done.is_set() or len(dtypes) < 20:
                d = dict(read_table(spark, reads).dtypes)
                dtypes.append((d["datatype"], d["period"]))
        except Exception as e:
            errors.append(e)

    tables = [str(tmp_path / "a"), str(tmp_path / "b")]
    writers = [threading.Thread(target=merge_rounds, args=(t,)) for t in tables]
    reader = threading.Thread(target=read_loop)
    for t in [reader, *writers]:
        t.start()
    for t in writers:
        t.join(timeout=300)
    done.set()
    reader.join(timeout=120)
    assert not any(t.is_alive() for t in [reader, *writers])
    assert errors == []
    assert set(dtypes) == {("string", "string")}
    want = sorted(
        [(f"s{r}", "2022-03-01", "850", "day", "raw", float(r)) for r in range(rounds)]
        + [("s0", "2022-03-02", "850", "day", "raw", float(rounds - 1))]
    )
    for t in tables:
        df = read_table(spark, t)
        assert dict(df.dtypes)["datatype"] == "string"
        assert _key_rows(spark, t) == want
    assert spark.conf.get(conf_key) == conf_before


def _top_level_slices(table):
    import os

    return sorted(n for n in os.listdir(table) if n.startswith("datatype="))


def test_convert_plain_table(spark, tmp_path, monkeypatch):
    """A plain hive-partitioned table (a numeric-looking slice and a
    hive-escaped one with a numeric-looking period) converts into a snapshot table with the same rows.
    A conversion cut after its files were promoted but before its publish
    is finished by a re-run; a second call is a no-op; run_job merges into
    the converted table."""
    import os

    from station_data_ingestion_spark.plans.runner import convert_plain_table
    from station_data_ingestion_spark.plans.snapshot_store import SnapshotTable

    rows = [
        (f"s{i:03d}", f"2022-03-0{d}", float(i + d) + off, dt, per, "raw")
        for dt, per, off in (("850", "day", 0.0), ("temp:avg", "007", 100.0))
        for i in range(10)
        for d in (1, 2)
    ]
    table = str(tmp_path / "obs")
    spark.createDataFrame(
        rows, "station_id string, date string, value double, "
        "datatype string, period string, fill string",
    ).repartition(3).write.partitionBy("datatype", "period").parquet(table)
    assert _top_level_slices(table) == ["datatype=850", "datatype=temp%3Aavg"]
    want = sorted((s, d, dt, per, f, v) for s, d, v, dt, per, f in rows)

    def crash(*a, **kw):
        raise RuntimeError("simulated crash")

    monkeypatch.setattr(SnapshotTable, "_write_manifest_exclusive", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        convert_plain_table(spark, table)
    monkeypatch.undo()
    assert os.listdir(os.path.join(table, "data"))  # promoted, not published
    assert not SnapshotTable(spark, table).exists()

    assert convert_plain_table(spark, table) == 1
    assert _key_rows(spark, table) == want
    df = read_table(spark, table)
    assert dict(df.dtypes)["datatype"] == dict(df.dtypes)["period"] == "string"
    assert "year" not in df.columns
    m = SnapshotTable(spark, table)._read_manifest(1)
    assert m["partition_transforms"] == {"year": ["year", "date"]}
    assert {e["partition"]["year"] for e in m["files"]} == {"2022"}  # the year layout
    assert _top_level_slices(table) == []
    snaps = sorted(os.listdir(os.path.join(table, "_snapshots")))

    assert convert_plain_table(spark, table) == 1  # no-op
    assert sorted(os.listdir(os.path.join(table, "_snapshots"))) == snaps
    assert _key_rows(spark, table) == want

    csv = tmp_path / "cron.csv"
    csv.write_text("SKN,X2022.03.01,X2022.03.02\ns000,9.0,2.0\ns099,5.0,6.0\n")
    job = JobSpec(data=[DataItemSpec(
        files=[str(csv)], datatype="850", period="day", fill="raw",
        start_date="2022-03-01", end_date="2022-03-02",
    )])
    stats = run_job(spark, job, table)[str(csv)]
    assert (stats.created, stats.replaced) == (2, 1)
    merged = [r for r in want if not (r[0] == "s000" and r[1] == "2022-03-01" and r[2] == "850")]
    merged += [("s000", "2022-03-01", "850", "day", "raw", 9.0),
               ("s099", "2022-03-01", "850", "day", "raw", 5.0),
               ("s099", "2022-03-02", "850", "day", "raw", 6.0)]
    assert _key_rows(spark, table) == sorted(merged)


_OBS_SCHEMA = ("station_id string, date string, value double, "
               "datatype string, period string, fill string")


def _obs_rows(spark, rows):
    return spark.createDataFrame(
        [(s, d, v, "temperature", "day", "raw") for s, d, v in rows], _OBS_SCHEMA
    )


def _item(start, end, period="day"):
    return DataItemSpec(files=[], datatype="temperature", period=period, fill="raw",
                        start_date=start, end_date=end)


def _entries(spark, table):
    from station_data_ingestion_spark.plans.snapshot_store import SnapshotTable

    t = SnapshotTable(spark, table)
    return t._read_manifest(t.latest_version())["files"]


def test_merge_keeps_year_files_its_zone_maps_would_skip(spark, tmp_path):
    """A merge reads its window's years by partition value only. Here the
    2022 year holds two files, and one file's date zone map lies outside
    the merge window: a zone-map pruned read would skip that file and the
    year's replacement would drop its rows."""
    from station_data_ingestion_spark.plans.runner import _merge_into_table, _obs_table

    table = str(tmp_path / "obs")
    old = [(f"s{i}", "2021-12-31", float(i)) for i in range(4)]
    seed = old + [(f"s{i}", d, float(i)) for i in range(4)
                  for d in ("2022-01-10", "2022-01-11", "2022-06-01", "2022-06-02")]
    snap = _obs_table(spark, table)
    snap.commit_overwrite_partitions(_obs_rows(spark, old))
    snap.commit_overwrite_partitions(
        _obs_rows(spark, seed[len(old):]), cluster_by=("date",), cluster_partitions=2)
    year = [e for e in _entries(spark, table) if e["partition"]["year"] == "2022"]
    assert len(year) == 2 and sorted(e["stats"]["date"] for e in year) == [
        ["2022-01-10", "2022-01-11"], ["2022-06-01", "2022-06-02"]]
    y2021 = [e for e in _entries(spark, table) if e["partition"]["year"] == "2021"]

    stats = _merge_into_table(
        spark, _obs_rows(spark, [("s0", "2022-06-02", 9.0), ("s9", "2022-06-02", 1.0)]),
        _item("2022-06-01", "2022-06-02"), str(table))
    assert (stats.created, stats.replaced) == (1, 1)
    want = sorted({**{(s, d): v for s, d, v in seed},
                   ("s0", "2022-06-02"): 9.0, ("s9", "2022-06-02"): 1.0}.items())
    got = sorted(((r.station_id, r.date), r.value) for r in read_table(spark, table).collect())
    assert got == want
    # 2021 is outside the window: not rewritten
    assert [e for e in _entries(spark, table) if e["partition"]["year"] == "2021"] == y2021


def test_merge_refuses_rows_outside_its_window(spark, tmp_path):
    """An observation dated outside the item's window (or undated) fails
    the merge's own write: the merge read only the window's years, so the
    row would replace a year it never read. Nothing is published."""
    from station_data_ingestion_spark.plans.runner import _merge_into_table

    table = str(tmp_path / "obs")
    seed = [("s0", "2021-06-01", 1.0), ("s1", "2021-06-01", 2.0), ("s0", "2022-03-01", 3.0)]
    _merge_into_table(spark, _obs_rows(spark, seed), _item("2021-01-01", "2022-12-31"), table)
    before = _key_rows(spark, table)
    files = sorted(e["path"] for e in _entries(spark, table))
    for stray in ("2021-06-02", None):
        rows = [("s2", "2022-03-01", 4.0), ("s2", stray, 5.0)]
        with pytest.raises(ValueError, match=r"outside its data item's window \[2022-03-01, 2022-03-02\]"):
            _merge_into_table(spark, _obs_rows(spark, rows), _item("2022-03-01", "2022-03-02"), table)
    assert _key_rows(spark, table) == before
    assert sorted(e["path"] for e in _entries(spark, table)) == files


def test_old_layout_slice_upgrades_in_its_first_merge(spark, tmp_path, monkeypatch):
    """A table of the (datatype, period) layout: the first merge into a
    slice reads the whole slice and rewrites it in the year layout in one
    commit. Cut once before its publish and re-run, it ends equal to an
    uninterrupted run, with no entry of the old layout left in the slice;
    another slice keeps its files."""
    from station_data_ingestion_spark.plans.snapshot_store import SnapshotTable

    seed = [(f"s{i}", d, float(i), dt) for i in range(5) for d in ("2021-12-31", "2022-03-01")
            for dt in ("temperature", "rainfall")]
    csv = tmp_path / "cron.csv"
    csv.write_text("SKN,X2022.03.01,X2022.03.02\ns0,9.0,1.0\ns7,2.0,3.0\n")
    job = JobSpec(data=[DataItemSpec(
        files=[str(csv)], datatype="temperature", period="day", fill="raw",
        start_date="2022-03-01", end_date="2022-03-02")])

    def old_layout(name):
        table = str(tmp_path / name)
        SnapshotTable(spark, table, ("datatype", "period")).commit_overwrite_partitions(
            spark.createDataFrame([(s, d, v, dt, "day", "raw") for s, d, v, dt in seed], _OBS_SCHEMA))
        assert "partition_transforms" not in SnapshotTable(spark, table)._read_manifest(1)
        return table

    baseline = old_layout("baseline")
    assert (run_job(spark, job, baseline)[str(csv)].created) == 3
    table = old_layout("obs")
    rain = sorted(e["path"] for e in _entries(spark, table)
                  if e["partition"]["datatype"] == "rainfall")

    def crash(*a, **kw):
        raise RuntimeError("simulated crash")

    monkeypatch.setattr(SnapshotTable, "_write_manifest_exclusive", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_job(spark, job, table, str(tmp_path / "m.json"))
    monkeypatch.undo()
    assert SnapshotTable(spark, table).latest_version() == 1
    stats = run_job(spark, job, table, str(tmp_path / "m.json"))[str(csv)]
    assert (stats.created, stats.replaced) == (3, 1)
    assert _key_rows(spark, table) == _key_rows(spark, baseline)
    temp = [e["partition"] for e in _entries(spark, table)
            if e["partition"]["datatype"] == "temperature"]
    assert sorted({p["year"] for p in temp}) == ["2021", "2022"]  # no old-layout entry
    assert sorted(e["path"] for e in _entries(spark, table)
                  if e["partition"]["datatype"] == "rainfall") == rain
    assert "year" not in read_table(spark, table).columns


def test_month_period_round_trips_by_year(spark, tmp_path):
    """A period="month" item ('YYYY-MM' dates) goes through run_job into
    the year layout, reads back whole, and a later window rewrites only
    its own year."""
    csv = tmp_path / "monthly.csv"
    csv.write_text("SKN,X2022.11,X2022.12,X2023.01\n" + "".join(
        f"s{i},{i}.1,{i}.2,{i}.3\n" for i in range(4)))
    table = str(tmp_path / "obs")

    def job(start, end):
        return JobSpec(data=[DataItemSpec(
            files=[str(csv)], datatype="rainfall", period="month", fill="raw",
            start_date=start, end_date=end)])

    assert run_job(spark, job("2022-11", "2023-01"), table)[str(csv)].created == 12
    got = sorted((r.station_id, r.date, r.value) for r in read_table(spark, table).collect())
    assert got == sorted((f"s{i}", m, float(f"{i}.{k}")) for i in range(4)
                         for k, m in ((1, "2022-11"), (2, "2022-12"), (3, "2023-01")))
    before = {e["path"] for e in _entries(spark, table) if e["partition"]["year"] == "2022"}
    assert before
    csv.write_text("SKN,X2023.01\n" + "".join(f"s{i},7.5\n" for i in range(4)))
    assert run_job(spark, job("2023-01", "2023-01"), table)[str(csv)].replaced == 4
    assert {e["path"] for e in _entries(spark, table) if e["partition"]["year"] == "2022"} == before
    assert read_table(spark, table, partition={"period": "month"}).count() == 12


def test_read_table_columns_hide_the_year(spark, tmp_path, wide_csv_day):
    """The year partition is layout, not schema: a new table reads back
    with the columns the (datatype, period) layout had, in their order."""
    table = str(tmp_path / "obs")
    run_job(spark, make_job(wide_csv_day), table)
    assert read_table(spark, table).columns == [
        "date", "fill", "station_id", "aggregation", "value", "datatype", "period"]
    assert {e["partition"]["year"] for e in _entries(spark, table)} == {"2022"}
