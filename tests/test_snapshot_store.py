"""Transactional snapshot merge target: isolation, atomicity, vacuum."""

import json

import pytest

from pyspark.sql import functions as F

from station_data_ingestion_spark.plans.snapshot_store import (
    SnapshotTable,
    read_table,
)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "station_id string, date string, value double, "
        "datatype string, period string"
    )


def test_commit_and_read_round_trip(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    v = t.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 1.0, "temperature", "day"),
                    ("2", "2022-03-01", 2.0, "rainfall", "day")])
    )
    assert v == 1 and t.exists()
    got = {(r.station_id, r.datatype, r.value) for r in t.read().collect()}
    assert got == {("1", "temperature", 1.0), ("2", "rainfall", 2.0)}
    # partition-pruned read never references the other slice's files
    only = t.read(partition={"datatype": "rainfall", "period": "day"})
    assert [r.station_id for r in only.collect()] == ["2"]


def test_overwrite_replaces_only_touched_partitions(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 1.0, "temperature", "day"),
                    ("2", "2022-03-01", 2.0, "rainfall", "day")])
    )
    v2 = t.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 9.0, "temperature", "day")])
    )
    assert v2 == 2
    got = {(r.station_id, r.datatype, r.value) for r in t.read().collect()}
    assert got == {("1", "temperature", 9.0), ("2", "rainfall", 2.0)}


def test_reader_during_commit_sees_consistent_snapshot(spark, tmp_path):
    """A DataFrame resolved before a commit keeps reading the OLD version
    -- commits add files and publish a new manifest, never touching the
    files an in-flight reader holds."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 1.0, "temperature", "day")])
    )
    old_reader = t.read()  # resolves the v1 file list now
    t.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 9.0, "temperature", "day"),
                    ("9", "2022-03-02", 3.0, "temperature", "day")])
    )
    assert [r.value for r in old_reader.collect()] == [1.0]  # still v1
    new = {(r.station_id, r.value) for r in t.read().collect()}
    assert new == {("1", 9.0), ("9", 3.0)}


def test_crash_mid_commit_leaves_old_snapshot_readable(spark, tmp_path):
    """Data files written but manifest never published == invisible."""
    path = str(tmp_path / "tbl")
    t = SnapshotTable(spark, path)
    t.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 1.0, "temperature", "day")])
    )
    # simulate the crash: stage + promote files, then die before publish
    staging = f"{path}/_staging/deadbeef"
    _df(spark, [("1", "2022-03-01", 666.0, "temperature", "day")]).write.partitionBy(
        "datatype", "period"
    ).parquet(staging)
    t._promote_staging(staging)
    assert [r.value for r in t.read().collect()] == [1.0]
    # vacuum with zero retention reaps the orphans; table unchanged
    deleted = t.vacuum(older_than_sec=0.0)
    assert deleted, "orphaned files should be deleted"
    assert [r.value for r in t.read().collect()] == [1.0]


def test_publish_race_rebases_and_lands_next_version(spark, tmp_path):
    """Losing the rename race re-reads the new latest and retries."""
    path = str(tmp_path / "tbl")
    t = SnapshotTable(spark, path)
    t.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 1.0, "temperature", "day")])
    )
    # a rival writer publishes v2 for a DIFFERENT partition out from
    # under this commit
    rival_files = SnapshotTable(spark, path)._read_manifest(1)["files"]
    rival = {
        "version": 2, "partition_cols": ["datatype", "period"],
        "files": rival_files + [],
    }
    (tmp_path / "tbl" / "_snapshots" / "v000000000002.json").write_text(
        json.dumps(rival)
    )
    v = t.commit_overwrite_partitions(
        _df(spark, [("2", "2022-03-01", 2.0, "rainfall", "day")])
    )
    assert v == 3  # rebased past the rival's version
    got = {(r.station_id, r.value) for r in t.read().collect()}
    assert got == {("1", 1.0), ("2", 2.0)}


def test_vacuum_keeps_latest_version_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 1.0, "temperature", "day")])
    )
    t.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 2.0, "temperature", "day")])
    )
    deleted = t.vacuum(older_than_sec=0.0)
    assert deleted  # v1's replaced file went away
    assert [r.value for r in t.read().collect()] == [2.0]
    # a fresh session-independent read also works (manifest is the truth)
    assert [r.value for r in read_table(spark, str(tmp_path / "tbl")).collect()] == [2.0]


def test_read_table_lists_snapshots_once(spark, tmp_path, monkeypatch):
    """read_table resolves its version with one listing of _snapshots/ and
    reads that manifest once, also when the pruned read is empty and it
    falls back to the table's (empty) schema."""
    path = str(tmp_path / "tbl")
    t = SnapshotTable(spark, path)
    t.commit_overwrite_partitions(_df(spark, [("1", "2022-03-01", 1.0, "temperature", "day")]))
    t.commit_overwrite_partitions(_df(spark, [("1", "2022-03-01", 2.0, "temperature", "day")]))
    calls = []
    for name in ("latest_version", "_read_manifest"):
        real = getattr(SnapshotTable, name)

        def spy(self, *a, real=real, name=name):
            calls.append(name)
            return real(self, *a)

        monkeypatch.setattr(SnapshotTable, name, spy)
    for kw, rows in (
        ({}, 1),
        ({"partition": {"datatype": "temperature"}}, 1),
        ({"partition": {"datatype": "rain"}}, 0),
        ({"ranges": {"date": ("2023-01-01", "2023-12-31")}}, 0),
        ({"version": 1}, 1),
    ):
        calls.clear()
        df = read_table(spark, path, **kw)
        assert sorted(calls) == ["_read_manifest", "latest_version"], (kw, calls)
        assert df.count() == rows, kw
    assert [r.value for r in read_table(spark, path, version=1).collect()] == [1.0]
    with pytest.raises(FileNotFoundError, match="version 7"):
        read_table(spark, path, version=7)


@pytest.mark.ingest
def test_plain_table_is_refused_untouched(spark, tmp_path):
    """A plain hive-partitioned parquet table (no snapshot manifest) is
    not a merge target: run_job raises, naming convert_plain_table, before
    it reads or writes the table, and read_table raises."""
    from station_data_ingestion_spark.plans.jobspec import DataItemSpec, JobSpec
    from station_data_ingestion_spark.plans.runner import run_job

    plain = tmp_path / "plain"
    _df(spark, [("1", "2022-03-01", 1.0, "temperature", "day")]).write.partitionBy(
        "datatype", "period"
    ).parquet(str(plain))

    def files():
        return {f: f.read_bytes() for f in plain.rglob("*") if f.is_file()}

    before = files()
    csv = tmp_path / "w.csv"
    csv.write_text("SKN,X2022.03.01\n1,2.0\n")
    job = JobSpec(data=[DataItemSpec(
        files=[str(csv)], datatype="temperature", period="day", fill="raw",
        start_date="2022-03-01", end_date="2022-03-01",
    )])
    with pytest.raises(ValueError, match="convert_plain_table"):
        run_job(spark, job, str(plain))
    assert files() == before
    with pytest.raises(FileNotFoundError, match="convert_plain_table"):
        read_table(spark, str(plain))


@pytest.mark.parametrize(
    "footer_schema", ["1", "0"], ids=["footer_schema", "merge_schema"]
)
def test_numeric_partition_values_stay_strings(spark, tmp_path, monkeypatch, footer_schema):
    """Numeric-looking partition values ('850', '007') read back as
    strings, in path order after the data columns, from both read-schema
    sources: the cached footer schema and the mergeSchema fallback."""
    monkeypatch.setenv("SPARK_GRAFT_FOOTER_SCHEMA", footer_schema)
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 1.0, "850", "007"),
                    ("2", "2022-03-01", 2.0, "0851", "007")])
    )
    df = t.read()
    assert df.dtypes == [
        ("station_id", "string"), ("date", "string"), ("value", "double"),
        ("datatype", "string"), ("period", "string"),
    ]
    assert df.filter((F.col("datatype") == "850") & (F.col("period") == "007")).count() == 1
    assert {(r.datatype, r.period) for r in df.collect()} == {("850", "007"), ("0851", "007")}


def test_escaped_partition_values_round_trip(spark, tmp_path):
    """Hive-escaped partition dir names decode back in the manifest."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 1.0, "rain fall:mm", "day")])
    )
    v = t.latest_version()
    entries = t._read_manifest(v)["files"]
    assert entries[0]["partition"]["datatype"] == "rain fall:mm"
    df = t.read(partition={"datatype": "rain fall:mm", "period": "day"})
    assert df.count() == 1


def test_two_real_writers_race_both_commits_survive(spark, tmp_path):
    """TWO actual commit_overwrite_partitions calls race on one table:
    the loser's publish hits an existing version file, rebases onto the
    winner's manifest, and BOTH partitions' rows survive."""
    path = str(tmp_path / "tbl")
    t1, t2 = SnapshotTable(spark, path), SnapshotTable(spark, path)
    t1.commit_overwrite_partitions(
        _df(spark, [("0", "2022-03-01", 0.5, "humidity", "day")])
    )

    # interleave: just before t1's first publish attempt, t2 runs a FULL
    # commit (stage, promote, publish) and takes the version t1 wanted
    orig = t1._write_manifest_exclusive
    raced = []

    def hooked(version, manifest):
        if not raced:
            raced.append(version)
            t2.commit_overwrite_partitions(
                _df(spark, [("2", "2022-03-01", 2.0, "rainfall", "day")])
            )
        return orig(version, manifest)

    t1._write_manifest_exclusive = hooked
    v = t1.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 1.0, "temperature", "day")])
    )
    assert raced == [2], "race hook never fired"
    assert v == 3  # t2 won v2; t1 rebased and landed v3
    got = {(r.station_id, r.datatype, r.value) for r in t1.read().collect()}
    assert got == {
        ("0", "humidity", 0.5),     # untouched base partition
        ("2", "rainfall", 2.0),     # winner's commit
        ("1", "temperature", 1.0),  # loser's rebased commit
    }
    # the loser's rebase preserved the winner's FILES, not just its rows
    live = {e["path"] for e in t1._read_manifest(3)["files"]}
    assert {e["path"] for e in t1._read_manifest(2)["files"]} <= live


def test_same_partition_race_last_publisher_wins(spark, tmp_path):
    """Racing commits to the SAME partition serialize by version; the
    rebased (later) publisher's rows are the final state."""
    path = str(tmp_path / "tbl")
    t1, t2 = SnapshotTable(spark, path), SnapshotTable(spark, path)
    orig = t1._write_manifest_exclusive
    raced = []

    def hooked(version, manifest):
        if not raced:
            raced.append(version)
            t2.commit_overwrite_partitions(
                _df(spark, [("9", "2022-03-01", 9.0, "temperature", "day")])
            )
        return orig(version, manifest)

    t1._write_manifest_exclusive = hooked
    v = t1.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 1.0, "temperature", "day")])
    )
    assert v == 2 and raced
    got = {(r.station_id, r.value) for r in t1.read().collect()}
    assert got == {("1", 1.0)}  # t1 published last; its overwrite wins


def test_vacuum_after_crash_reaps_staged_and_promoted_orphans(spark, tmp_path):
    """Crashes at both pre-publish points leave garbage that vacuum must
    reap WITHOUT touching live data: (a) a staged-but-never-promoted
    dir, (b) files promoted into the data tree whose publish never
    happened."""
    path = str(tmp_path / "tbl")
    t = SnapshotTable(spark, path)
    t.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 1.0, "temperature", "day")])
    )

    # crash (a): staging written, promote never ran
    orphan_stage = f"{path}/_staging/deadbeefcafe"
    _df(spark, [("7", "2022-03-02", 7.0, "pressure", "day")]).write.partitionBy(
        "datatype", "period"
    ).parquet(orphan_stage)
    # crash (b): files promoted into data/, manifest publish never ran
    crashed = SnapshotTable(spark, path)
    stage_b = f"{path}/_staging/{'ab' * 16}"
    _df(spark, [("8", "2022-03-02", 8.0, "windspeed", "day")]).write.partitionBy(
        "datatype", "period"
    ).parquet(stage_b)
    promoted = crashed._promote_staging(stage_b)
    assert promoted  # files are in the tree...
    live_before = {(r.station_id, r.value) for r in t.read().collect()}
    assert live_before == {("1", 1.0)}  # ...but invisible to readers

    # a fresh vacuum with retention 0 reaps both kinds of orphan
    deleted = t.vacuum(older_than_sec=0.0)
    assert {e["path"] for e in promoted} <= set(deleted)
    import os
    assert not os.path.exists(orphan_stage)
    # live data and the latest manifest are untouched; reads still work
    assert {(r.station_id, r.value) for r in t.read().collect()} == {("1", 1.0)}
    # idempotent: nothing left to reap
    assert t.vacuum(older_than_sec=0.0) == []


def test_manifest_file_stats_prune_reads(spark, tmp_path):
    """Commits record per-file min/max of stat_cols; range reads skip
    files whose zone map cannot intersect -- without changing results."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"), stat_cols=("date",))
    # three commits = three files with disjoint date ranges
    for month, vals in (
        ("2022-01", [("1", "2022-01-05", 1.0), ("2", "2022-01-20", 2.0)]),
        ("2022-02", [("1", "2022-02-10", 3.0)]),
        ("2022-03", [("3", "2022-03-01", 4.0), ("1", "2022-03-30", 5.0)]),
    ):
        t.commit_overwrite_partitions(
            _df(spark, [(s, d, v, f"m{month}", "day") for s, d, v in vals])
        )

    manifest = t._read_manifest(t.latest_version())
    stats = {e["path"]: e.get("stats", {}).get("date") for e in manifest["files"]}
    assert all(s is not None for s in stats.values()), stats
    assert any(s == ["2022-02-10", "2022-02-10"] for s in stats.values())

    # range read: only the February file is referenced
    feb = t.read(ranges={"date": ("2022-02-01", "2022-02-28")})
    assert len(feb.inputFiles()) == 1
    assert [(r.station_id, r.value) for r in feb.collect()] == [("1", 3.0)]

    # open-ended bound: everything from March 1 on (the March commit may
    # have split into several files; all must be March files)
    mar = t.read(ranges={"date": ("2022-03-01", None)})
    assert mar.inputFiles() and all(
        "datatype=m2022-03" in f for f in mar.inputFiles()
    )
    assert {r.value for r in mar.collect()} == {4.0, 5.0}

    # a range matching nothing prunes every file
    assert t.read(ranges={"date": ("2030-01-01", "2030-12-31")}) is None

    # files WITHOUT stats are never pruned: simulate a legacy manifest
    import json as _json

    v = t.latest_version()
    m = t._read_manifest(v)
    for e in m["files"]:
        e.pop("stats", None)
    (tmp_path / "tbl" / "_snapshots" / f"v{v + 1:012d}.json").write_text(
        _json.dumps({**m, "version": v + 1})
    )
    legacy = t.read(ranges={"date": ("2022-02-01", "2022-02-28")})
    # kept ALL files; the caller's real predicate decides
    assert len(legacy.inputFiles()) == len(m["files"])


def test_cluster_by_makes_zone_maps_effective(spark, tmp_path):
    """One wide-date commit: clustered writes give tight per-file ranges
    so a narrow range read touches a strict subset of files."""
    rows = [
        (str(i), f"2022-{m:02d}-{d:02d}", float(i), "temperature", "day")
        for i, (m, d) in enumerate(
            (m, d) for m in range(1, 13) for d in (3, 17, 28)
        )
    ]
    t = SnapshotTable(spark, str(tmp_path / "tbl"), stat_cols=("date",))
    t.commit_overwrite_partitions(
        _df(spark, rows), cluster_by=("date",), cluster_partitions=4
    )

    n_total = len(t._read_manifest(t.latest_version())["files"])
    assert n_total > 1, "fixture needs multiple files to show pruning"
    june = t.read(ranges={"date": ("2022-06-01", "2022-06-30")})
    assert len(june.inputFiles()) < n_total  # pruning evidence
    # pruning keeps whole files -- the caller's predicate is still the
    # filter; after it, results equal the unpruned read's
    got = {
        r.date
        for r in june.filter(
            (F.col("date") >= "2022-06-01") & (F.col("date") <= "2022-06-30")
        ).collect()
    }
    assert got == {"2022-06-03", "2022-06-17", "2022-06-28"}


def test_recluster_partition_tightens_zone_maps(spark, tmp_path):
    """An unclustered table's files overlap on date; recluster_partition
    rewrites the slice range-sorted so a narrow read prunes, and the
    rows survive byte-identical."""
    rows = [
        (str(i), f"2022-{m:02d}-{d:02d}", float(i), "temperature", "day")
        for i, (m, d) in enumerate(
            (m, d) for m in range(1, 13) for d in (4, 18, 27)
        )
    ]
    t = SnapshotTable(spark, str(tmp_path / "tbl"), stat_cols=("date",))
    # unclustered ingest: rows land in hash-arbitrary files
    t.commit_overwrite_partitions(_df(spark, rows).repartition(4))
    before = {(r.station_id, r.date, r.value) for r in t.read().collect()}

    v = t.recluster_partition(
        {"datatype": "temperature", "period": "day"},
        cluster_by=("date",),
        cluster_partitions=4,
    )
    assert v == 2
    after_all = t.read()
    assert {(r.station_id, r.date, r.value) for r in after_all.collect()} == before

    n_total = len(t._read_manifest(v)["files"])
    assert n_total > 1
    june = t.read(ranges={"date": ("2022-06-01", "2022-06-30")})
    assert len(june.inputFiles()) < n_total  # pruning now effective
    # empty partition: no-op
    assert t.recluster_partition(
        {"datatype": "absent", "period": "day"}, cluster_by=("date",)
    ) is None


def test_multi_partition_commit_stats_do_not_collide(spark, tmp_path):
    """A dynamic-partition write emits identically-NAMED part files into
    different partition dirs; stats keyed by basename would collide and
    attribute one partition's min/max to the other, letting a ranged
    read prune a file that holds in-range rows (silent data loss)."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"), stat_cols=("date",))
    # one task writes BOTH partitions -> both get part-00000-... basenames
    df = _df(
        spark,
        [("1", "2022-01-15", 1.0, "temperature", "day"),
         ("2", "2022-06-15", 2.0, "rainfall", "day")],
    ).coalesce(1)
    t.commit_overwrite_partitions(df)
    man = json.loads(
        (tmp_path / "tbl" / "_snapshots" / "v000000000001.json").read_text()
    )
    entries = {e["partition"]["datatype"]: e for e in man["files"]}
    assert entries["temperature"]["stats"]["date"] == ["2022-01-15", "2022-01-15"]
    assert entries["rainfall"]["stats"]["date"] == ["2022-06-15", "2022-06-15"]
    # ranged read over June must still see the rainfall row
    got = t.read(ranges={"date": ("2022-06-01", "2022-06-30")})
    rows = got.filter(F.col("date").between("2022-06-01", "2022-06-30")).collect()
    assert [(r.station_id, r.value) for r in rows] == [("2", 2.0)]


def test_date_typed_stat_cols_commit_and_prune(spark, tmp_path):
    """DATE/DECIMAL stat columns must not break json.dumps in the
    manifest publish; coerced stats keep pruning correct."""
    import datetime

    t = SnapshotTable(
        spark, str(tmp_path / "tbl"),
        partition_cols=("datatype",), stat_cols=("d", "price"),
    )
    df = spark.createDataFrame(
        [("a", datetime.date(2022, 1, 1), 1.50),
         ("a", datetime.date(2022, 1, 31), 2.25)],
        "datatype string, d date, price double",
    ).coalesce(1)
    df2 = spark.createDataFrame(
        [("b", datetime.date(2022, 6, 1), 9.75)],
        "datatype string, d date, price double",
    ).coalesce(1)
    t.commit_overwrite_partitions(df)      # would raise TypeError pre-fix
    t.commit_overwrite_partitions(df2)
    # ISO-string range bounds AND datetime.date bounds both work
    for bounds in [("2022-05-01", "2022-12-31"),
                   (datetime.date(2022, 5, 1), datetime.date(2022, 12, 31))]:
        got = t.read(ranges={"d": bounds})
        assert [r.datatype for r in got.collect()] == ["b"]


def test_recluster_detects_and_repairs_concurrent_ingest(spark, tmp_path):
    """An ingest commit landing between recluster's read and publish must
    not be silently reverted: the audit restores it and retries."""
    path = str(tmp_path / "tbl")
    t = SnapshotTable(spark, path, stat_cols=("date",))
    part = {"datatype": "temperature", "period": "day"}
    t.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 1.0, "temperature", "day"),
                    ("2", "2022-03-02", 2.0, "temperature", "day")])
    )

    class RacyTable(SnapshotTable):
        fired = False

        def commit_overwrite_partitions(self, df, **kw):
            if not RacyTable.fired:
                RacyTable.fired = True
                # concurrent ingest lands AFTER recluster's read,
                # BEFORE its publish
                SnapshotTable(spark, path, stat_cols=("date",)).commit_overwrite_partitions(
                    _df(spark, [("9", "2022-03-09", 9.0, "temperature", "day")])
                )
            return super().commit_overwrite_partitions(df, **kw)

    rt = RacyTable(spark, path, stat_cols=("date",))
    v = rt.recluster_partition(part, cluster_by=("date",))
    assert v is not None
    # the concurrent ingest's content (a full partition overwrite) wins;
    # pre-recluster rows must NOT resurface
    got = {(r.station_id, r.value) for r in t.read(partition=part).collect()}
    assert got == {("9", 9.0)}


def test_recluster_without_conflict_single_pass(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"), stat_cols=("date",))
    part = {"datatype": "temperature", "period": "day"}
    t.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 1.0, "temperature", "day"),
                    ("2", "2022-03-05", 2.0, "temperature", "day")])
    )
    v = t.recluster_partition(part, cluster_by=("date",), cluster_partitions=2)
    assert v == 2
    got = {(r.station_id, r.value) for r in t.read(partition=part).collect()}
    assert got == {("1", 1.0), ("2", 2.0)}


def test_time_travel_read_and_vacuumed_version_raises(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 1.0, "temperature", "day")])
    )
    t.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 9.0, "temperature", "day"),
                    ("2", "2022-03-02", 2.0, "temperature", "day")])
    )
    # v1 still reads exactly its content after the overwrite
    assert [r.value for r in t.read(version=1).collect()] == [1.0]
    assert {r.value for r in t.read(version=2).collect()} == {9.0, 2.0}
    assert {r.value for r in t.read().collect()} == {9.0, 2.0}
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        t.read(version=7)
    # vacuum with zero retention reaps v1's manifest -> explicit error,
    # never a silent partial read
    t.vacuum(older_than_sec=0.0)
    with _pytest.raises(FileNotFoundError):
        t.read(version=1)


def test_bloom_point_read_prunes_files_never_rows(spark, tmp_path):
    """Per-file Bloom index: a point lookup on a column ORTHOGONAL to the
    clustering must skip most files (zone maps cannot — every file spans
    the full key range) while keeping every file that truly holds the
    key."""
    t = SnapshotTable(
        spark,
        str(tmp_path / "bloom_tbl"),
        partition_cols=(),
        stat_cols=("ord",),
        bloom_cols=("k",),
    )
    # k is random w.r.t. ord, so ord-clustered files each hold a k-slice
    rows = [(i, (i * 2654435761) % 4096, i % 7) for i in range(8000)]
    df = spark.createDataFrame(rows, "ord long, k long, grp long")
    t.commit_overwrite_partitions(df, cluster_by=("ord",), cluster_partitions=8)
    total = len(t._read_manifest(t.latest_version())["files"])
    assert total == 8

    probe_k = (123 * 2654435761) % 4096  # k of ord=123 — exists
    got = t.read(point={"k": int(probe_k)})
    assert got is not None
    kept = len(got.inputFiles())
    assert kept < total, "bloom index pruned nothing"
    # pruning is never a filter: the real predicate still finds ALL rows
    truth = sorted(r_ord for r_ord, rk, _ in rows if rk == probe_k)
    found = sorted(
        r.ord for r in got.filter(F.col("k") == int(probe_k)).collect()
    )
    assert found == truth, "bloom pruning dropped true rows"

    # absent value: most (often all) files pruned; any kept file is a
    # false positive and harmless because the real predicate finds 0 rows
    miss = t.read(point={"k": 999_999})
    if miss is not None:
        assert miss.filter(F.col("k") == 999_999).count() == 0


def test_bloom_point_read_keeps_unbloomed_files(spark, tmp_path):
    """Files committed WITHOUT bloom_cols (older table versions) must
    always be kept by a point read — pruning degrades, never corrupts."""
    path = str(tmp_path / "mixed_tbl")
    plain = SnapshotTable(spark, path, partition_cols=(), stat_cols=())
    plain.commit_overwrite_partitions(
        spark.createDataFrame([(1, 10)], "ord long, k long")
    )
    bloomed = SnapshotTable(
        spark, path, partition_cols=(), stat_cols=(), bloom_cols=("k",)
    )
    bloomed.commit_overwrite_partitions(
        spark.createDataFrame([(2, 20)], "ord long, k long")
    )
    # v2 overwrote the (single, unpartitioned) slice; time-travel to v1
    # exercises bloom-less entries under a point read
    got_v1 = bloomed.read(version=1, point={"k": 999})
    assert got_v1 is not None and got_v1.count() == 1, (
        "bloom-less file must be kept even for a missing key"
    )
    got_v2 = bloomed.read(point={"k": 20})
    assert got_v2 is not None
    assert got_v2.filter(F.col("k") == 20).count() == 1


def test_delete_where_rewrites_only_touched_files(spark, tmp_path):
    """DELETE FROM ... WHERE: rows gone, untouched files keep their
    exact identity, and time travel still sees the pre-delete table."""
    t = SnapshotTable(
        spark, str(tmp_path / "del_tbl"), partition_cols=(), stat_cols=("k",)
    )
    df = spark.createDataFrame([(i, i % 100) for i in range(10_000)], "k long, g long")
    t.commit_overwrite_partitions(df, cluster_by=("k",), cluster_partitions=8)
    v1 = t.latest_version()
    before = {e["path"] for e in t._read_manifest(v1)["files"]}
    # k-clustered files: deleting a k-range touches few files
    v2 = t.delete_where(F.col("k") < 2000)
    assert v2 == v1 + 1
    after = {e["path"] for e in t._read_manifest(v2)["files"]}
    kept_identity = before & after
    assert kept_identity, "untouched files must keep their exact paths"
    assert t.read().count() == 8000
    assert t.read().filter("k < 2000").count() == 0
    assert t.read(version=v1).count() == 10_000, "time travel sees pre-delete"


def test_delete_where_no_match_is_noop(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "del_noop"), partition_cols=(), stat_cols=())
    t.commit_overwrite_partitions(spark.createDataFrame([(1,)], "k long"))
    v = t.latest_version()
    assert t.delete_where(F.col("k") > 100) == v
    assert t.latest_version() == v and t.read().count() == 1


def test_update_where_applies_assignments_to_matches_only(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "upd_tbl"), partition_cols=(), stat_cols=("k",)
    )
    t.commit_overwrite_partitions(
        spark.createDataFrame([(i, 10) for i in range(1000)], "k long, v long"),
        cluster_by=("k",),
        cluster_partitions=4,
    )
    t.update_where(F.col("k") % 10 == 0, {"v": F.col("v") * 100})
    got = {r.k: r.v for r in t.read().collect()}
    assert len(got) == 1000
    assert got[40] == 1000 and got[41] == 10


def test_predicate_rewrite_refuses_concurrent_commit(spark, tmp_path):
    import pytest as _pytest

    from station_data_ingestion_spark.plans.snapshot_store import (
        ConcurrentCommitError,
    )

    t = SnapshotTable(spark, str(tmp_path / "race_tbl"), partition_cols=(), stat_cols=())
    t.commit_overwrite_partitions(
        spark.createDataFrame([(i,) for i in range(100)], "k long")
    )
    orig = t._promote_staging

    def racing_promote(*a, **kw):
        entries = orig(*a, **kw)
        # another writer lands a commit between the rewrite and publish
        t2 = SnapshotTable(spark, t.path, partition_cols=(), stat_cols=())
        t2.commit_overwrite_partitions(
            spark.createDataFrame([(999,)], "k long")
        )
        return entries

    t._promote_staging = racing_promote
    try:
        with _pytest.raises(ConcurrentCommitError):
            t.delete_where(F.col("k") < 10)
    finally:
        t._promote_staging = orig


def test_check_constraints_enforced_on_write(spark, tmp_path):
    """A violating row fails the commit BEFORE publish; the table keeps
    its prior version. NULL predicate results pass (SQL CHECK)."""
    import pytest as _pytest

    t = SnapshotTable(
        spark,
        str(tmp_path / "ck_tbl"),
        partition_cols=(),
        stat_cols=(),
        constraints={"positive_v": "v > 0", "id_not_null": "k IS NOT NULL"},
    )
    t.commit_overwrite_partitions(
        spark.createDataFrame([(1, 5), (2, None)], "k long, v long")
    )  # v NULL passes CHECK v > 0
    v1 = t.latest_version()
    assert t.read().count() == 2

    with _pytest.raises(Exception) as ei:
        t.commit_overwrite_partitions(
            spark.createDataFrame([(3, -1)], "k long, v long")
        )
    assert "positive_v" in str(ei.value)
    assert t.latest_version() == v1, "failed commit must publish nothing"
    assert t.read().count() == 2

    with _pytest.raises(Exception) as ei2:
        t.commit_overwrite_partitions(
            spark.createDataFrame([(None, 9)], "k long, v long")
        )
    assert "id_not_null" in str(ei2.value)
    assert t.latest_version() == v1


def test_partition_evolution_read_and_cross_spec_delete(spark, tmp_path):
    """Spec evolves (g)->(h): reads union both layouts; a predicate
    DELETE spanning both specs rewrites under the NEW spec; time travel
    still sees the pre-delete rows."""
    t = SnapshotTable(
        spark,
        str(tmp_path / "evo_tbl"),
        partition_cols=("g",),
        stat_cols=(),
    )
    rows1 = [(i, f"g{i % 2}", f"h{i % 3}", i * 10) for i in range(0, 20, 2)]
    rows2 = [(i, f"g{i % 2}", f"h{i % 3}", i * 10) for i in range(1, 20, 2)]
    schema = "k long, g string, h string, v long"
    t.commit_overwrite_partitions(spark.createDataFrame(rows1, schema))
    t.evolve_partition_spec(("h",))
    t.commit_overwrite_partitions(spark.createDataFrame(rows2, schema))

    got = {(r["k"], r["g"], r["h"], r["v"]) for r in t.read().collect()}
    assert got == set(rows1) | set(rows2)

    # driver-side pruning on the OLD spec column: old-spec files prune,
    # new-spec files (no g recorded) are conservatively kept
    old_files = {
        e["path"]
        for e in t._read_manifest(t.latest_version())["files"]
        if "g" in e["partition"]
    }
    kept = t.read(partition={"g": "g0"}).inputFiles()
    kept_rel = {p.split("/data/", 1)[-1] for p in kept}
    assert not any(
        e in kept_rel
        for e in old_files
        if "g=g1" in e
    ), "old-spec files for the other partition must be pruned"

    v_before = t.latest_version()
    t.delete_where(F.col("k") % 5 == 0)  # hits both specs' files
    got2 = {(r["k"], r["g"], r["h"], r["v"]) for r in t.read().collect()}
    assert got2 == {r for r in set(rows1) | set(rows2) if r[0] % 5 != 0}
    # time travel: pre-delete version intact
    old = {(r["k"], r["g"], r["h"], r["v"])
           for r in t.read(version=v_before).collect()}
    assert old == set(rows1) | set(rows2)


def test_update_where_enforces_check_constraints(spark, tmp_path):
    """UPDATE must satisfy table CHECK constraints: a violating
    assignment aborts pre-publish and the table is unchanged."""
    import pytest as _pytest

    t = SnapshotTable(
        spark,
        str(tmp_path / "ck_upd"),
        partition_cols=(),
        stat_cols=(),
        constraints={"v_positive": "v > 0"},
    )
    t.commit_overwrite_partitions(
        spark.createDataFrame([(1, 5), (2, 7)], "k long, v long")
    )
    v1 = t.latest_version()
    with _pytest.raises(Exception) as ei:
        t.update_where(F.col("k") == 2, {"v": F.lit(-3)})
    assert "v_positive" in str(ei.value)
    assert t.latest_version() == v1
    assert {(r["k"], r["v"]) for r in t.read().collect()} == {(1, 5), (2, 7)}


def test_restore_rolls_back_and_is_itself_versioned(spark, tmp_path):
    """restore(v) is a NEW commit of v's file set: the mutation stays
    readable, restore-of-restore works, vacuumed targets raise."""
    import pytest as _pytest

    t = SnapshotTable(
        spark, str(tmp_path / "restore_tbl"), partition_cols=(), stat_cols=()
    )
    t.commit_overwrite_partitions(
        spark.createDataFrame([(i, i * 10) for i in range(10)], "k long, v long")
    )
    t.delete_where(F.col("k") < 5)
    assert t.read().count() == 5
    v3 = t.restore(1)
    assert v3 == 3
    assert t.read().count() == 10
    assert t.read(version=2).count() == 5  # rollback kept the mutation
    v4 = t.restore(2)  # restore of a non-latest mutated version
    assert v4 == 4 and t.read().count() == 5
    with _pytest.raises(FileNotFoundError):
        t.restore(99)


def test_wap_stage_publish_abort_and_vacuum_protection(spark, tmp_path):
    """Staged commits are invisible, publish is atomic over concurrent
    commits, abort removes files, and vacuum protects staged files
    while their pending manifest is within retention."""
    import os
    import time

    import pytest as _pytest

    t = SnapshotTable(
        spark, str(tmp_path / "wap_tbl"), partition_cols=(), stat_cols=()
    )
    t.commit_overwrite_partitions(
        spark.createDataFrame([(1, 10)], "k long, v long")
    )
    v1 = t.latest_version()

    tok = t.stage_commit(spark.createDataFrame([(2, 20)], "k long, v long"))
    assert t.latest_version() == v1  # invisible
    assert {r["k"] for r in t.read_staged(tok).collect()} == {2}

    # a concurrent commit lands between stage and publish: publish must
    # retry over the new base and keep BOTH (disjoint partitions = ())
    # ... with empty partition_cols every commit replaces the whole
    # no-partition slice, so publish REPLACES the concurrent row: that
    # is dynamic-partition-overwrite semantics, assert exactly that.
    t.commit_overwrite_partitions(
        spark.createDataFrame([(3, 30)], "k long, v long")
    )
    v_pub = t.publish_staged(tok)
    assert v_pub == t.latest_version()
    assert {r["k"] for r in t.read().collect()} == {2}
    with _pytest.raises(FileNotFoundError):
        t.read_staged(tok)  # pending manifest consumed

    # abort path: files physically removed
    tok2 = t.stage_commit(spark.createDataFrame([(4, 40)], "k long, v long"))
    paths = [e["path"] for e in t._read_pending(tok2)["files"]]
    removed = t.abort_staged(tok2)
    assert set(removed) == set(paths) and removed
    for rel in removed:
        assert not os.path.exists(f"{t.path}/data/{rel}")
    assert {r["k"] for r in t.read().collect()} == {2}

    # vacuum protection: age the staged DATA files past retention but
    # keep the pending manifest fresh -> files survive, publish works
    tok3 = t.stage_commit(spark.createDataFrame([(5, 50)], "k long, v long"))
    for e in t._read_pending(tok3)["files"]:
        os.utime(f"{t.path}/data/{e['path']}", (1, 1))
    t.vacuum(older_than_sec=3600)
    t.publish_staged(tok3)
    assert {r["k"] for r in t.read().collect()} == {5}

    # stale staging: age files AND pending manifest -> vacuum reaps both
    tok4 = t.stage_commit(spark.createDataFrame([(6, 60)], "k long, v long"))
    for e in t._read_pending(tok4)["files"]:
        os.utime(f"{t.path}/data/{e['path']}", (1, 1))
    os.utime(t._pending_path(tok4), (1, 1))
    deleted = t.vacuum(older_than_sec=3600)
    assert deleted, "stale staged files must be reaped"
    with _pytest.raises(FileNotFoundError):
        t.read_staged(tok4)


def test_rename_column_chain_retirement_and_rewrites(spark, tmp_path):
    """Rename chains resolve across eras; retired names cannot return;
    predicate rewrites physically migrate touched files to the newest
    name; partition columns refuse to rename."""
    import pytest as _pytest

    t = SnapshotTable(
        spark, str(tmp_path / "ren_tbl"), partition_cols=("g",), stat_cols=()
    )
    t.commit_overwrite_partitions(
        spark.createDataFrame([(1, "a", 10)], "k long, g string, v long")
    )
    t.rename_column("v", "v2")
    t.commit_overwrite_partitions(
        spark.createDataFrame([(2, "b", 20)], "k long, g string, v2 long")
    )
    t.rename_column("v2", "v3")  # chain: v -> v2 -> v3
    got = {(r["k"], r["v3"]) for r in t.read().collect()}
    assert got == {(1, 10), (2, 20)}
    with _pytest.raises(ValueError, match="renamed away"):
        t.rename_column("k", "v")  # retired name cannot return
    with _pytest.raises(ValueError, match="partition column"):
        t.rename_column("g", "h")

    # time travel BEFORE the first rename sees the original name
    assert "v" in t.read(version=1).columns

    # predicate rewrite reads through the chain and writes the new name
    t.update_where(F.col("k") == 1, {"v3": F.lit(11)})
    got2 = {(r["k"], r["v3"]) for r in t.read().collect()}
    assert got2 == {(1, 11), (2, 20)}


def test_rename_onto_live_column_raises(spark, tmp_path):
    import pytest as _pytest

    t = SnapshotTable(
        spark, str(tmp_path / "ren2_tbl"), partition_cols=(), stat_cols=()
    )
    t.commit_overwrite_partitions(
        spark.createDataFrame([(1, 2, 3)], "a long, b long, c long")
    )
    with _pytest.raises(ValueError, match="already exists"):
        t.rename_column("a", "b")


def test_stats_min_max_metadata_only(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "mm_tbl"), partition_cols=("g",),
        stat_cols=("v",),
    )
    t.commit_overwrite_partitions(
        spark.createDataFrame(
            [(1, "a", 5), (2, "a", 9), (3, "b", -2)], "k long, g string, v long"
        )
    )
    assert t.stats_min_max("v") == (-2, 9)
    assert t.stats_min_max("v", partition={"g": "a"}) == (5, 9)
    assert t.stats_min_max("missing") is None
    assert t.stats_min_max("v", partition={"g": "zzz"}) is None
    # a commit with an all-null stat column makes metadata unsound
    t.commit_overwrite_partitions(
        spark.createDataFrame([(4, "c", None)], "k long, g string, v long")
    )
    assert t.stats_min_max("v") is None
    assert t.stats_min_max("v", partition={"g": "a"}) == (5, 9)


def test_read_appends_cursor_semantics(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "src_tbl"), partition_cols=("b",), stat_cols=()
    )
    df1, cur = t.read_appends(None)
    assert df1 is None and cur is None  # absent table
    t.commit_overwrite_partitions(
        spark.createDataFrame([(1, "x", 10)], "k long, b string, v long")
    )
    df1, cur = t.read_appends(None)
    assert {r["k"] for r in df1.collect()} == {1} and cur == 1
    t.commit_overwrite_partitions(
        spark.createDataFrame([(2, "y", 20)], "k long, b string, v long")
    )
    df2, cur = t.read_appends(cur)
    assert {r["k"] for r in df2.collect()} == {2} and cur == 2
    # overwrite of an EXISTING partition is a rewrite, not an append
    t.commit_overwrite_partitions(
        spark.createDataFrame([(3, "x", 30)], "k long, b string, v long")
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="non-append"):
        t.read_appends(cur)
    inc, cur2 = t.read_appends(cur, on_rewrite="include")
    assert {r["k"] for r in inc.collect()} == {3} and cur2 == 3


def test_read_appends_vacuumed_cursor_raises_cleanly(spark, tmp_path):
    import os
    import time

    import pytest as _pytest

    t = SnapshotTable(
        spark, str(tmp_path / "vc_tbl"), partition_cols=("b",), stat_cols=()
    )
    t.commit_overwrite_partitions(
        spark.createDataFrame([(1, "x", 1)], "k long, b string, v long")
    )
    _, cur = t.read_appends(None)
    t.commit_overwrite_partitions(
        spark.createDataFrame([(2, "y", 2)], "k long, b string, v long")
    )
    time.sleep(0.05)
    t.vacuum(older_than_sec=0)  # reaps the v1 manifest behind the cursor
    with _pytest.raises(FileNotFoundError, match="vacuumed past retention"):
        t.read_appends(cur)


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE semantics: a NULL predicate keeps the row — even when
    the NULL row shares a data file with a matching (TRUE) row."""
    t = SnapshotTable(
        spark, str(tmp_path / "del_null"), partition_cols=(), stat_cols=()
    )
    # One file: NULLs co-located with matches (the dangerous layout).
    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 50), (4, None)], "k long, v long"
    ).coalesce(1)
    t.commit_overwrite_partitions(df)
    t.delete_where(F.col("v") > 10)  # NULL > 10 is NULL, not TRUE
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {(1, 5), (2, None), (4, None)}, got


def test_read_appends_inverted_range_raises(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "inv_tbl"), partition_cols=("b",), stat_cols=()
    )
    t.commit_overwrite_partitions(
        spark.createDataFrame([(1, "x", 1)], "k long, b string, v long")
    )
    t.commit_overwrite_partitions(
        spark.createDataFrame([(2, "y", 2)], "k long, b string, v long")
    )
    _, cur = t.read_appends(None)
    assert cur == 2
    # caught-up cursor never regresses
    df, cur2 = t.read_appends(cur)
    assert df is None and cur2 == cur
    import pytest as _pytest

    with _pytest.raises(ValueError, match="inverted"):
        t.read_appends(cur, to_version=1)


def test_rename_missing_column_raises(spark, tmp_path):
    import pytest as _pytest

    t = SnapshotTable(
        spark, str(tmp_path / "ren_missing"), partition_cols=(), stat_cols=()
    )
    t.commit_overwrite_partitions(spark.createDataFrame([(1,)], "k long"))
    v = t.latest_version()
    with _pytest.raises(ValueError, match="does not exist"):
        t.rename_column("typo_col", "better")
    assert t.latest_version() == v, "no inert version consumed"


def test_history_and_timestamp_time_travel(spark, tmp_path):
    import time

    t = SnapshotTable(spark, str(tmp_path / "hist_tbl"))
    t.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 1.0, "temperature", "day")])
    )
    time.sleep(1.1)
    mid = time.time()
    time.sleep(1.1)
    t.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 2.0, "temperature", "day")])
    )
    h = t.history()
    assert [r["version"] for r in h] == [1, 2]
    assert h[0]["timestamp"] < h[1]["timestamp"]
    assert h[0]["n_files"] == 1 and h[0]["n_external_files"] == 0
    # as_of between the commits resolves to v1
    assert t.version_as_of(mid) == 1
    assert [r.value for r in t.read(as_of=mid).collect()] == [1.0]
    assert [r.value for r in t.read(as_of=time.time()).collect()] == [2.0]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no snapshot"):
        t.version_as_of(mid - 1000)
    with _pytest.raises(ValueError, match="not both"):
        t.read(version=1, as_of=mid)


def test_shallow_clone_reads_and_diverges(spark, tmp_path):
    src = SnapshotTable(spark, str(tmp_path / "src_tbl"))
    src.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 1.0, "temperature", "day"),
                    ("2", "2022-03-01", 2.0, "rainfall", "day")])
    )
    clone = src.clone_to(str(tmp_path / "clone_tbl"))
    # zero copy: clone's data dir holds no parquet yet
    import glob

    assert not glob.glob(str(tmp_path / "clone_tbl" / "data" / "**" / "*.parquet"),
                         )
    got = {(r.station_id, r.value) for r in clone.read().collect()}
    assert got == {("1", 1.0), ("2", 2.0)}
    # clone-side append diverges; source untouched
    clone.commit_overwrite_partitions(
        _df(spark, [("3", "2022-03-01", 3.0, "humidity", "day")])
    )
    assert clone.read().count() == 3 and src.read().count() == 2
    # source-side change after the clone point is invisible to the clone
    src.commit_overwrite_partitions(
        _df(spark, [("1", "2022-03-01", 9.9, "temperature", "day")])
    )
    assert {r.value for r in clone.read().collect()} == {1.0, 2.0, 3.0}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already exists"):
        src.clone_to(str(tmp_path / "clone_tbl"))


def test_shallow_clone_cow_delete_and_vacuum_isolation(spark, tmp_path):
    import glob
    import time

    src = SnapshotTable(
        spark, str(tmp_path / "cow_src"), partition_cols=(), stat_cols=("k",)
    )
    df = spark.createDataFrame([(i, i % 10) for i in range(1000)], "k long, g long")
    src.commit_overwrite_partitions(df, cluster_by=("k",), cluster_partitions=4)
    clone = src.clone_to(str(tmp_path / "cow_clone"))
    # copy-on-write DELETE on the clone: rewrites land locally
    clone.delete_where(F.col("k") < 250)
    assert clone.read().count() == 750
    assert src.read().count() == 1000, "source must be untouched"
    local = glob.glob(
        str(tmp_path / "cow_clone" / "data" / "**" / "*.parquet"), recursive=True
    )
    assert local, "COW rewrite must write into the clone's own tree"
    # untouched files stay shared (external entries remain)
    h = clone.history()
    assert h[-1]["n_external_files"] >= 1
    # clone vacuum never reaps the source's files
    n_src = len(
        glob.glob(str(tmp_path / "cow_src" / "data" / "**" / "*.parquet"),
                  recursive=True)
    )
    time.sleep(0.05)
    clone.vacuum(older_than_sec=0)
    assert len(
        glob.glob(str(tmp_path / "cow_src" / "data" / "**" / "*.parquet"),
                  recursive=True)
    ) == n_src
    assert clone.read().count() == 750
    # update_where on shared files also lands locally, source untouched
    clone.update_where(F.col("k") >= 900, {"g": F.lit(77)})
    assert clone.read().filter("g = 77").count() == 100
    assert src.read().filter("g = 77").count() == 0


def test_change_feed_update_delete_append(spark, tmp_path):
    """CDF: recorded update/delete changes + synthesized append inserts;
    applying the feed to the from-version reproduces the to-version."""
    from station_data_ingestion_spark.plans.snapshot_store import (
        ChangeFeedUnavailableError,
    )

    t = SnapshotTable(
        spark, str(tmp_path / "cdf_tbl"), partition_cols=("g",),
        stat_cols=("k",),
    )
    t.commit_overwrite_partitions(
        spark.createDataFrame(
            [(i, "a", 10) for i in range(100)], "k long, g string, v long"
        )
    )
    v1 = t.latest_version()
    # append: a NEW partition only -- structurally pure append
    t.commit_overwrite_partitions(
        spark.createDataFrame(
            [(i, "b", 20) for i in range(100, 150)], "k long, g string, v long"
        )
    )
    t.update_where(F.col("k") < 10, {"v": F.col("v") + 5})
    t.delete_where(F.col("k").between(90, 99))
    v4 = t.latest_version()

    feed = t.read_change_feed(v1)
    by_type = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    assert by_type == {
        "insert": 50, "update_preimage": 10,
        "update_postimage": 10, "delete": 10,
    }
    # update images carry the actual values
    post = feed.filter("_change_type = 'update_postimage'")
    assert post.agg(F.min("v"), F.max("v")).first() == (15, 15)

    # apply-equivalence: v1 + feed == v4
    base = t.read(version=v1).select("k", "g", "v")
    minus = feed.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select("k", "g", "v")
    plus = feed.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select("k", "g", "v")
    applied = base.exceptAll(minus).unionByName(plus)
    final = t.read(version=v4).select("k", "g", "v")
    assert applied.exceptAll(final).count() == 0
    assert final.exceptAll(applied).count() == 0

    # recluster is declared maintenance: contributes nothing
    t.recluster_partition({"g": "a"}, cluster_by=("k",))
    assert t.read_change_feed(v4) is None

    # restore replaces files with no recorded feed: unavailable
    t.restore(v1)
    try:
        t.read_change_feed(v4)
        raise AssertionError("expected ChangeFeedUnavailableError")
    except ChangeFeedUnavailableError:
        pass


def test_change_feed_vacuum_protects_referenced_files(spark, tmp_path):
    """Vacuum reaps only UNreferenced change files past retention."""
    import os

    t = SnapshotTable(
        spark, str(tmp_path / "cdf_vac"), partition_cols=(), stat_cols=()
    )
    t.commit_overwrite_partitions(
        spark.createDataFrame([(i, 1) for i in range(50)], "k long, v long")
    )
    v1 = t.latest_version()
    t.delete_where(F.col("k") < 5)
    chg_root = tmp_path / "cdf_vac" / "_changes"
    tokens = set(os.listdir(chg_root))
    assert len(tokens) == 1
    # an orphan change dir (lost publish race simulation)
    orphan = chg_root / "deadbeef"
    orphan.mkdir()
    (orphan / "part-x.parquet").write_bytes(b"junk")
    old = 1.0
    os.utime(orphan, (old, old))
    for tok in tokens:
        os.utime(chg_root / tok, (old, old))
        for f in (chg_root / tok).iterdir():
            os.utime(f, (old, old))
    t.vacuum(older_than_sec=3600)
    left = set(os.listdir(chg_root))
    assert "deadbeef" not in left, "orphan change dir must be reaped"
    assert tokens <= left, "referenced change dir must survive"
    # the feed still reads after vacuum
    assert t.read_change_feed(v1).count() == 5


def test_drop_column_metadata_only(spark, tmp_path):
    """DROP COLUMN: reads exclude it, files untouched, time travel sees
    it, the name is retired for future writers, appends still work."""
    t = SnapshotTable(
        spark, str(tmp_path / "dropc"), partition_cols=("g",), stat_cols=()
    )
    t.commit_overwrite_partitions(
        spark.createDataFrame(
            [(1, "a", 10, "x"), (2, "a", 20, "y")],
            "k long, g string, v long, note string",
        )
    )
    v1 = t.latest_version()
    files_before = {e["path"] for e in t._read_manifest(v1)["files"]}
    v2 = t.drop_column("note")
    assert {e["path"] for e in t._read_manifest(v2)["files"]} == files_before
    assert sorted(t.read().columns) == ["g", "k", "v"]
    assert "note" in t.read(version=v1).columns, "time travel pre-drop"
    # retired name: a commit carrying it raises
    try:
        t.commit_overwrite_partitions(
            spark.createDataFrame(
                [(3, "b", 30, "z")], "k long, g string, v long, note string"
            )
        )
        raise AssertionError("expected retired-name ValueError")
    except ValueError as e:
        assert "retired" in str(e)
    # a clean append (new partition) works and reads unified
    t.commit_overwrite_partitions(
        spark.createDataFrame([(3, "b", 30)], "k long, g string, v long")
    )
    assert t.read().count() == 3
    # mixed-era scan: old files physically have 'note'; read drops it
    assert "note" not in t.read().columns
    # delete rewrite on an old file writes note-free files
    t.delete_where(F.col("k") == 1)
    assert t.read().count() == 2
    # errors: partition col, missing col
    for bad in ("g", "nope"):
        try:
            t.drop_column(bad)
            raise AssertionError("expected ValueError")
        except ValueError:
            pass


def test_hidden_partitioning_day_transform(spark, tmp_path):
    """Iceberg-style hidden partitioning: p_day derived from ts at
    write, hidden from reads, and range-pruned through the transform."""
    t = SnapshotTable(
        spark, str(tmp_path / "hidp"), partition_cols=("p_day",),
        stat_cols=(), partition_transforms={"p_day": ("day", "d")},
    )
    rows = [(i, f"2024-01-{1 + i % 9:02d}", i * 10) for i in range(90)]
    t.commit_overwrite_partitions(
        spark.createDataFrame(rows, "k long, d string, v long")
        .withColumn("d", F.to_date("d"))
    )
    df = t.read()
    assert "p_day" not in df.columns, "transform column must stay hidden"
    assert df.count() == 90
    pruned = t.read(ranges={"d": ("2024-01-02", "2024-01-03")})
    assert len(pruned.inputFiles()) < len(df.inputFiles())
    got = pruned.filter(F.col("d").between("2024-01-02", "2024-01-03"))
    assert got.count() == 20
    # DELETE on the hidden-partitioned table re-derives the layout
    t.delete_where(F.col("k") < 9)
    assert t.read().count() == 81


def test_hidden_partitioning_bucket_point_read(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "hidb"), partition_cols=("p_b",),
        stat_cols=(), partition_transforms={"p_b": ("bucket", 8, "k")},
    )
    t.commit_overwrite_partitions(
        spark.createDataFrame([(i, i * 2) for i in range(400)], "k long, v long")
    )
    full = t.read()
    assert "p_b" not in full.columns
    probe = t.read(point={"k": 42})
    assert len(probe.inputFiles()) < len(full.inputFiles())
    assert probe.filter("k = 42").count() == 1


def test_hidden_partitioning_truncate_range(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "hidt"), partition_cols=("p_t",),
        stat_cols=(), partition_transforms={"p_t": ("truncate", 100, "k")},
    )
    t.commit_overwrite_partitions(
        spark.createDataFrame([(i, 1) for i in range(1000)], "k long, v long")
    )
    full = t.read()
    pruned = t.read(ranges={"k": (150, 250)})
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert pruned.filter(F.col("k").between(150, 250)).count() == 101


def test_delete_racing_commit_raises_then_retries_clean(spark, tmp_path):
    """Conflict matrix: a DELETE whose base version advances mid-flight
    (a rival commit lands between its scan and its publish) must raise
    ConcurrentCommitError — not silently revert the rival — and a retry
    against the new base applies BOTH effects."""
    from station_data_ingestion_spark.plans.snapshot_store import (
        ConcurrentCommitError,
    )

    path = str(tmp_path / "conflict")
    t = SnapshotTable(spark, path, partition_cols=("g",), stat_cols=())
    t.commit_overwrite_partitions(
        spark.createDataFrame(
            [(i, "a", 1) for i in range(100)], "k long, g string, v long"
        )
    )
    rival = SnapshotTable(spark, path, partition_cols=("g",), stat_cols=())

    orig = t._write_manifest_exclusive
    fired = []

    def hooked(version, manifest):
        if not fired:
            fired.append(version)
            rival.commit_overwrite_partitions(
                spark.createDataFrame(
                    [(1000, "b", 7)], "k long, g string, v long"
                )
            )
        return orig(version, manifest)

    t._write_manifest_exclusive = hooked
    try:
        t.delete_where(F.col("k") < 10)
        raise AssertionError("expected ConcurrentCommitError")
    except ConcurrentCommitError:
        pass
    finally:
        t._write_manifest_exclusive = orig
    assert fired, "race hook never fired"
    # nothing from the failed delete is visible
    assert t.read().filter("k < 10").count() == 10
    assert t.read().filter("g = 'b'").count() == 1
    # retry on the new base: both effects present
    t.delete_where(F.col("k") < 10)
    assert t.read().filter("k < 10").count() == 0
    assert t.read().filter("g = 'b'").count() == 1


def test_drop_partitions_metadata_only_and_vacuum_reclaims(spark, tmp_path):
    from pyspark.sql import functions as F

    t = SnapshotTable(
        spark, str(tmp_path / "ret"), partition_cols=("p",), stat_cols=()
    )
    df = spark.range(0, 60).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
        (F.col("id") * 2).alias("v"),
    )
    t.commit_overwrite_partitions(df)
    v1 = t.latest_version()
    # partial dict naming a non-partition column raises
    with pytest.raises(ValueError, match="not a partition column"):
        t.drop_partitions({"v": "1"})
    # no match -> same version, no new commit
    assert t.drop_partitions({"p": "9"}) == v1
    v2 = t.drop_partitions({"p": "1"})
    assert v2 == v1 + 1
    assert t.read().filter(F.col("p") == "1").count() == 0
    assert t.read().count() == 40
    assert t.read(version=v1).count() == 60  # time travel intact
    # vacuum past retention reclaims exactly the dropped partition
    deleted = t.vacuum(older_than_sec=0.0)
    assert deleted and all("p=1" in d for d in deleted)
    assert t.read().count() == 40


def test_drop_partitions_recorded_changes_feed(spark, tmp_path):
    from pyspark.sql import functions as F

    t = SnapshotTable(
        spark, str(tmp_path / "retc"), partition_cols=("p",), stat_cols=()
    )
    df = spark.range(0, 30).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("p"),
        (F.col("id") * 2).alias("v"),
    )
    t.commit_overwrite_partitions(df)
    v1 = t.latest_version()
    t.drop_partitions({"p": "0"}, record_changes=True)
    feed = t.read_change_feed(v1)
    rows = feed.select("k", "_change_type").collect()
    assert {r["_change_type"] for r in rows} == {"delete"}
    assert {r["k"] for r in rows} == {r["k"] for r in df.filter(
        F.col("p") == "0"
    ).select("k").collect()}


def test_drop_partitions_change_images_respect_dvs(spark, tmp_path):
    """record_changes must go through the DV-aware read: rows a
    deletion vector already removed must NOT be re-recorded as deletes
    (an IVM consumer would retract them twice)."""
    from pyspark.sql import functions as F

    t = SnapshotTable(
        spark, str(tmp_path / "dvdrop"), partition_cols=("p",), stat_cols=()
    )
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("p"),
    )
    t.commit_overwrite_partitions(df)
    t.delete_where_dv((F.col("k") % 4 == 0) & (F.col("p") == "0"))
    v_pre = t.latest_version()
    t.drop_partitions({"p": "0"}, record_changes=True)
    feed = t.read_change_feed(v_pre)
    dropped_ks = {
        r["k"]
        for r in feed.filter(F.col("_change_type") == "delete")
        .select("k")
        .collect()
    }
    # p=0 holds evens 0..38; k%4==0 were already DV-deleted before the
    # drop — only the survivors (k%4==2) may appear as delete images
    assert dropped_ks == {k for k in range(0, 40, 2) if k % 4 == 2}


def test_history_records_operation_labels(spark, tmp_path):
    """DESCRIBE HISTORY parity: every commit carries its operation."""
    from pyspark.sql import functions as F

    t = SnapshotTable(
        spark, str(tmp_path / "hist"), partition_cols=("p",), stat_cols=()
    )
    df = spark.range(0, 30).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("p"),
    )
    t.commit_overwrite_partitions(df)
    t.delete_where(F.col("k") % 5 == 0)
    t.delete_where_dv(F.col("k") % 7 == 1)
    t.drop_partitions({"p": "1"})
    t.restore(1)
    ops = [h["op"] for h in t.history()]
    assert ops == [
        "overwrite-partitions",
        "delete",
        "delete-dv",
        "drop-partitions",
        "restore",
    ]


def test_change_feed_update_on_condition_column_pairs_images(spark, tmp_path):
    """An UPDATE whose assignment changes the CONDITION column must
    still emit a postimage for every preimage. The old two-leg change
    builder re-filtered the post leg on transformed values, so a row
    updated out of the predicate lost its postimage."""
    t = SnapshotTable(
        spark, str(tmp_path / "cdf_pair"), partition_cols=("g",),
        stat_cols=("k",),
    )
    t.commit_overwrite_partitions(
        spark.createDataFrame(
            [(i, "a", i) for i in range(20)], "k long, g string, v long"
        )
    )
    v1 = t.latest_version()
    # rows with v < 10 get v += 100 -> they no longer match the predicate
    t.update_where(F.col("v") < 10, {"v": F.col("v") + 100})
    feed = t.read_change_feed(v1)
    by_type = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert by_type == {"update_preimage": 10, "update_postimage": 10}
    post = feed.filter("_change_type = 'update_postimage'")
    assert post.agg(F.min("v"), F.max("v")).first() == (100, 109)


def test_update_where_unknown_assignment_column_raises(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "upd_unk"), partition_cols=("g",),
        stat_cols=("k",),
    )
    t.commit_overwrite_partitions(
        spark.createDataFrame([(1, "a", 10)], "k long, g string, v long")
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown column"):
        t.update_where(F.col("k") == 1, {"nope": F.lit(5)})
    # failed update published nothing
    assert t.latest_version() == 1
