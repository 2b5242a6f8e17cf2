import pytest
from pyspark.sql import functions as F

from station_data_ingestion_spark.plans.jobspec import DataItemSpec
from station_data_ingestion_spark.sources import wide_csv

pytestmark = pytest.mark.ingest


def make_spec(**kw):
    base = dict(
        files=[],
        datatype="temperature",
        period="day",
        fill="raw",
        start_date="2022-03-02",
        end_date="2022-03-05",
        additional_properties={"aggregation": "min"},
        additional_key_properties=["aggregation"],
    )
    base.update(kw)
    return DataItemSpec(**base)


DRIVER_PARSE_CELLS = wide_csv._DRIVER_PARSE_CELLS


def parse_paths(monkeypatch):
    """Each parse of a small local file in turn, as ``(name, fast)`` for
    ingest_wide_csv: the unit reader on the driver (a cron-sized group's
    default), the unit reader in executor tasks (driver cell bound
    patched to 0), and the declarative unpivot."""
    for name, cells in (("driver", DRIVER_PARSE_CELLS), ("executor", 0)):
        monkeypatch.setattr(wide_csv, "_DRIVER_PARSE_CELLS", cells)
        yield name, True
    yield "declarative", False


def python_stage(df) -> bool:
    return "MapInPandas" in df._jdf.queryExecution().executedPlan().toString()


def test_classify_headers_drops_unknown_and_prunes(spark, wide_csv_day):
    spec = make_spec()
    cols = wide_csv.read_header(spark, wide_csv_day)
    meta, date_cols = wide_csv.classify_headers(cols, spec)
    assert "Notes" not in meta and "Notes" not in date_cols
    assert meta["SKN"] == "skn" and meta["ELEV.m."] == "elevation_m"
    # inclusive both ends: 02..05 only
    assert date_cols == ["X2022.03.02", "X2022.03.03", "X2022.03.04", "X2022.03.05"]


def test_observations_long_output(spark, wide_csv_day):
    spec = make_spec()
    obs, meta = wide_csv.ingest_wide_csv(spark, wide_csv_day, spec)
    rows = {(r.station_id, r.date): r.value for r in obs.collect()}
    # NA cells and out-of-range dates excluded; station ids stay strings
    assert rows[("39.20", "2022-03-03")] == 22.0
    assert rows[("0042", "2022-03-04")] == 19.5
    assert ("39.20", "2022-03-02") not in rows  # NA
    assert ("39.20", "2022-03-01") not in rows  # out of range
    assert ("39.20", "2022-03-06") not in rows  # out of range
    sample = obs.limit(1).collect()[0]
    assert sample.datatype == "temperature"
    assert sample.period == "day"
    assert sample.fill == "raw"
    assert sample.aggregation == "min"
    # short/empty rows contribute nothing beyond their non-null cells
    assert all(sid in ("39.20", "0042") for sid, _ in rows)


def test_metadata_branch(spark, wide_csv_day):
    spec = make_spec()
    _obs, meta = wide_csv.ingest_wide_csv(spark, wide_csv_day, spec, location="hawaii")
    m = {r.skn: r.asDict() for r in meta.collect() if r.skn}
    assert m["39.20"]["name"] == "Kula"
    assert m["39.20"]["observer"] == "NA"  # sentinel survives the read
    assert m["0042"]["station_group"] == "hawaii_climate_primary"
    assert m["0042"]["id_field"] == "skn"


def test_strict_cast_raises_on_garbage(spark, tmp_path, monkeypatch):
    """Garbage fails when the plan runs, not when it is built: a driver
    parse that raises hands the group to the executor reader."""
    p = tmp_path / "bad.csv"
    p.write_text("SKN,X2022.03.02\n1,oops\n")
    spec = make_spec()
    for name, fast in parse_paths(monkeypatch):
        obs, _ = wide_csv.ingest_wide_csv(spark, str(p), spec, fast=fast)
        assert python_stage(obs) == fast, name
        with pytest.raises(Exception, match="non-numeric observation value"):
            obs.collect()


def test_month_period(spark, tmp_path):
    p = tmp_path / "wide_month.csv"
    p.write_text("SKN,X2021.01,X2021.02,X2021.03\n5,1.0,NA,3.0\n")
    spec = make_spec(period="month", start_date="2021-01", end_date="2021-02")
    obs, _ = wide_csv.ingest_wide_csv(spark, str(p), spec)
    rows = {(r.station_id, r.date): r.value for r in obs.collect()}
    assert rows == {("5", "2021-01"): 1.0}


def test_flagship_groupby_over_ingested(spark, wide_csv_day):
    """SURVEY §7 M1: avg(value) per station over the ingested long table."""
    spec = make_spec()
    obs, _ = wide_csv.ingest_wide_csv(spark, wide_csv_day, spec)
    out = {
        r.station_id: r.avg_value
        for r in obs.groupBy("station_id")
        .agg(F.round(F.avg("value"), 3).alias("avg_value"))
        .collect()
    }
    assert out["39.20"] == round((22.0 + 22.5 + 23.0) / 3, 3)
    assert out["0042"] == round((18.0 + 19.5 + 20.0) / 3, 3)


def test_fast_and_declarative_paths_agree(spark, wide_csv_day, monkeypatch):
    """The Arrow-native fast parse, on the driver and in executor tasks,
    and the declarative unpivot produce the same rows/schema on the
    fixture (incl. its short and empty rows)."""
    spec = make_spec()
    b, _ = wide_csv.ingest_wide_csv(spark, wide_csv_day, spec, fast=False)
    for name, fast in parse_paths(monkeypatch):
        if not fast:
            continue
        a, _ = wide_csv.ingest_wide_csv(spark, wide_csv_day, spec, fast=True)
        assert python_stage(a) == (name == "executor")
        # nullability flags may differ between the two plans; names/types must not
        assert [(f.name, f.dataType) for f in a.schema] == [
            (f.name, f.dataType) for f in b.schema
        ], name
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, name


def test_fast_path_used_for_local_file(spark, tmp_path, monkeypatch):
    """A local file takes the unit reader: parsed on the driver up to
    _DRIVER_PARSE_CELLS estimated cells (data lines x in-range dates), in
    executor tasks (MapInPandas) above it, with the same rows."""
    spec = make_spec(start_date="2022-01-01", end_date="2022-12-31")
    dates = [f"X2022.{m:02d}.{d:02d}" for m in range(1, 5) for d in range(1, 26)]
    assert len(dates) == 100
    p = tmp_path / "bound.csv"
    rows = [f"s{i:03d}," + ",".join(f"{i}.{j % 10}" for j in range(100)) for i in range(101)]
    p.write_text("SKN," + ",".join(dates) + "\n" + "\n".join(rows[:100]) + "\n")
    units, layouts = wide_csv.plan_wide_units(spark, [str(p)], spec)
    at_bound = wide_csv.read_wide_units(spark, units, layouts, spec)  # 10,000 cells
    assert not python_stage(at_bound)
    default, _ = wide_csv.ingest_wide_csv(spark, str(p), spec)
    assert not python_stage(default)
    with open(p, "a") as f:
        f.write(rows[100] + "\n")
    units, layouts = wide_csv.plan_wide_units(spark, [str(p)], spec)
    above = wide_csv.read_wide_units(spark, units, layouts, spec)  # 10,100 cells
    assert python_stage(above)
    monkeypatch.setattr(wide_csv, "_DRIVER_PARSE_CELLS", 20_000)
    local = wide_csv.read_wide_units(spark, units, layouts, spec)
    assert not python_stage(local)
    assert above.count() == 10_100
    assert above.exceptAll(local).count() == 0 and local.exceptAll(above).count() == 0


def test_cron_sized_group_runs_no_python_stage(spark, tmp_path):
    """A cron day's group (50 stations x 4 in-range days) is parsed on the
    driver: the executed plan of its observations has no Python stage and
    no Exchange, and its rows are the declarative ingest's."""
    spec = make_spec()
    p = tmp_path / "cron.csv"
    header = "SKN,Station.Name," + ",".join(f"X2022.03.{d:02d}" for d in range(1, 8))
    rows = [f"{i:04d},St{i}," + ",".join(f"{i + d}.5" for d in range(1, 8)) for i in range(50)]
    p.write_text(header + "\n" + "\n".join(rows) + "\n")
    obs, _ = wide_csv.ingest_wide_csv(spark, str(p), spec)
    ref, _ = wide_csv.ingest_wide_csv(spark, str(p), spec, fast=False)
    assert sorted(obs.collect()) == sorted(ref.collect())
    plan = obs._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "Python", "Exchange"):
        assert node not in plan, plan


def test_positional_id_col_when_skn_absent(spark, tmp_path):
    """No SKN header -> the config's positional id_col designates the
    station-id column [reference: src/tapis_direct_driver.py:54-56]."""
    from station_data_ingestion_spark.plans.jobspec import DataItemSpec
    from station_data_ingestion_spark.sources.wide_csv import ingest_wide_csv

    p = tmp_path / "noskn.csv"
    p.write_text("Station.Name,STID,X2022.03.01\nKula,39.20,1.5\n")
    spec = DataItemSpec(
        files=[], datatype="t", period="day", fill="raw",
        start_date="2022-03-01", end_date="2022-03-01", id_col=1,
    )
    obs, _ = ingest_wide_csv(spark, str(p), spec)
    rows = obs.collect()
    assert len(rows) == 1
    assert rows[0]["station_id"] == "39.20" and rows[0]["value"] == 1.5


def test_batch_multi_file_ingest_matches_per_file(spark, tmp_path):
    """Planner + unit reader: many files, different header layouts, one
    plan == union of per-file ingests."""
    spec = make_spec(start_date="2022-01-01", end_date="2022-12-31")
    p1 = tmp_path / "jan.csv"
    p1.write_text("SKN,X2022.01.01,X2022.01.02\n1,1.0,NA\n2,2.0,2.5\n")
    p2 = tmp_path / "feb.csv"  # different date columns + extra metadata col
    p2.write_text("SKN,Station.Name,X2022.02.01\n1,Kula,3.5\n")
    p3 = tmp_path / "old.csv"  # all dates out of range -> contributes nothing
    p3.write_text("SKN,X2021.01.01\n1,9.9\n")
    paths = [str(p1), str(p2), str(p3)]
    units, layouts = wide_csv.plan_wide_units(spark, paths, spec)
    assert sorted({u[0] for u in units}) == sorted(paths[:2])  # old.csv: no units
    batch = wide_csv.read_wide_units(spark, units, layouts, spec)
    assert batch is not None
    per_file = None
    for p in paths:
        obs, _ = wide_csv.ingest_wide_csv(spark, p, spec, fast=False)
        per_file = obs if per_file is None else per_file.unionAll(obs)
    assert batch.exceptAll(per_file).count() == 0
    assert per_file.exceptAll(batch).count() == 0
    assert batch.count() == 4  # jan: 3 non-NA cells, feb: 1, old: 0


def test_truncated_row_keeps_present_cells_both_paths(spark, tmp_path, monkeypatch):
    """A truncated tail line (interrupted download) must contribute its
    present in-range cells on BOTH parse paths (PERMISSIVE parity), and
    an over-wide row is truncated to the header width."""
    p = tmp_path / "trunc.csv"
    p.write_text(
        "SKN,X2022.03.02,X2022.03.03\n"
        "1,10.0,11.0\n"
        "2,12.0\n"             # truncated: only first date present
        "3,13.0,14.0,99.0\n"   # over-wide: extra field dropped
    )
    spec = make_spec()
    expect = {
        ("1", "2022-03-02", 10.0), ("1", "2022-03-03", 11.0),
        ("2", "2022-03-02", 12.0),
        ("3", "2022-03-02", 13.0), ("3", "2022-03-03", 14.0),
    }
    for name, fast in parse_paths(monkeypatch):
        obs, _ = wide_csv.ingest_wide_csv(spark, str(p), spec, fast=fast)
        assert {(r.station_id, r.date, r.value) for r in obs.collect()} == expect, name


def test_blank_station_id_dropped_both_paths(spark, tmp_path, monkeypatch):
    p = tmp_path / "blank_skn.csv"
    p.write_text("SKN,X2022.03.02\n,5.5\n1,6.0\n")
    spec = make_spec()
    for name, fast in parse_paths(monkeypatch):
        obs, _ = wide_csv.ingest_wide_csv(spark, str(p), spec, fast=fast)
        rows = {(r.station_id, r.value) for r in obs.collect()}
        assert rows == {("1", 6.0)}, (name, rows)


def test_batch_ingest_raises_on_unusable_file(spark, tmp_path):
    import pytest

    good = tmp_path / "good.csv"
    good.write_text("SKN,X2022.03.02\n1,1.0\n")
    bad = tmp_path / "bad.csv"
    bad.write_text("")  # empty/corrupt file: no header at all
    spec = make_spec()
    with pytest.raises(ValueError, match="missing the SKN station-id"):
        wide_csv.plan_wide_units(spark, [str(good), str(bad)], spec)


def test_whitespace_padded_numeric_both_paths(spark, tmp_path, monkeypatch):
    """' 1.5' must parse on BOTH paths (reference float() trims); a
    whitespace-only cell must RAISE on both (survives the '' filter,
    fails the cast)."""
    p = tmp_path / "pad.csv"
    p.write_text("SKN,X2022.03.02,X2022.03.03\n1, 1.5 ,2.0\n")
    spec = make_spec()
    bad = tmp_path / "ws.csv"
    bad.write_text("SKN,X2022.03.02\n1,  \n")
    for name, fast in parse_paths(monkeypatch):
        obs, _ = wide_csv.ingest_wide_csv(spark, str(p), spec, fast=fast)
        rows = {(r.date, r.value) for r in obs.collect()}
        assert rows == {("2022-03-02", 1.5), ("2022-03-03", 2.0)}, (name, rows)
        obs, _ = wide_csv.ingest_wide_csv(spark, str(bad), spec, fast=fast)
        with pytest.raises(Exception, match="non-numeric observation value"):
            obs.collect()


def test_repeated_header_line_dropped(spark, tmp_path, monkeypatch):
    """A mid-file line identical to the header (concatenated files) is
    dropped by the unit reader, on the driver and in executor tasks, not
    a strict-cast error."""
    header = "SKN,Station.Name,X2022.03.02,X2022.03.03"
    p = tmp_path / "concat.csv"
    p.write_text(f"{header}\n1,Kula,1.0,2.0\n{header}\n2,Hilo,3.0,NA\n")
    for name, fast in parse_paths(monkeypatch):
        if not fast:  # the declarative unpivot reads it as a garbage row
            continue
        obs, _ = wide_csv.ingest_wide_csv(spark, str(p), make_spec())
        assert python_stage(obs) == (name == "executor")
        assert sorted((r.station_id, r.date, r.value) for r in obs.collect()) == [
            ("1", "2022-03-02", 1.0), ("1", "2022-03-03", 2.0), ("2", "2022-03-02", 3.0)
        ], name


def test_empty_cell_dropped_both_paths_documented_divergence(spark, tmp_path, monkeypatch):
    """Genuinely empty in-range cells drop as missing on both paths (the
    documented divergence from the reference's float('') ValueError)."""
    p = tmp_path / "empty_cell.csv"
    p.write_text("SKN,X2022.03.02,X2022.03.03\n1,,7.0\n")
    spec = make_spec()
    for name, fast in parse_paths(monkeypatch):
        obs, _ = wide_csv.ingest_wide_csv(spark, str(p), spec, fast=fast)
        rows = {(r.date, r.value) for r in obs.collect()}
        assert rows == {("2022-03-03", 7.0)}, (name, rows)


def test_data_col_start_positional_contract(spark):
    """A date-shaped header BEFORE data_col_start is not a data column."""
    from station_data_ingestion_spark.plans.jobspec import DataItemSpec

    spec = DataItemSpec(
        files=[], datatype="temperature", period="day", fill="raw",
        start_date="2022-03-01", end_date="2022-03-05", data_col_start=2,
    )
    cols = ["SKN", "X2022.03.01", "X2022.03.02", "X2022.03.03"]
    _meta, dates = wide_csv.classify_headers(cols, spec)
    assert dates == ["X2022.03.02", "X2022.03.03"]  # index 1 excluded


def test_units_capped_by_max_partition_bytes(spark, tmp_path, monkeypatch):
    """A file larger than spark.sql.files.maxPartitionBytes plans to
    several units, each parsed in small whole-line chunks, and the rows
    equal the declarative ingest."""
    spec = make_spec()
    p = tmp_path / "big.csv"
    rows = [f"s{i:04d},St{i},{i}.5,NA\n" for i in range(300)]
    p.write_text("SKN,Station.Name,X2022.03.02,X2022.03.03\n" + "".join(rows))
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        units, layouts = wide_csv.plan_wide_units(spark, [str(p)], spec)
        monkeypatch.setattr(wide_csv, "_READ_CHUNK_BYTES", 100)
        obs = wide_csv.read_wide_units(spark, units, layouts, spec)
        ref, _ = wide_csv.ingest_wide_csv(spark, str(p), spec, fast=False)
        assert len(units) > 1
        assert python_stage(obs)  # group bytes over one chunk read
        assert all(e - s <= 1024 + max(map(len, rows)) for _p, s, e in units)
        assert obs.count() == 300
        assert obs.exceptAll(ref).count() == 0 and ref.exceptAll(obs).count() == 0
    finally:
        spark.conf.set(key, prev)


def test_repeated_unread_or_blank_header_names_ignored(spark, tmp_path):
    """Only columns that are read (SKN, metadata, in-range dates) must be
    unique; repeated out-of-range or unknown columns and blank names are
    dropped on both paths, like any unknown column."""
    spec = make_spec()
    p = tmp_path / "dups.csv"
    p.write_text(
        "SKN,Station.Name,Junk,Junk,X2021.01.01,X2021.01.01,X2022.03.02,,\n"
        "1,Kula,a,b,9,9,1.5,,\n"
        "2,Hilo,c,d,9,9,2.5,,\n"
    )
    for fast in (True, False):
        obs, meta = wide_csv.ingest_wide_csv(spark, str(p), spec, fast=fast)
        assert sorted((r.station_id, r.value) for r in obs.collect()) == [
            ("1", 1.5), ("2", 2.5)
        ]
        assert sorted(r["name"] for r in meta.collect()) == ["Hilo", "Kula"]
    p.write_text("SKN,Station.Name,Station.Name,X2022.03.02\n1,Kula,Kula,1.5\n")
    with pytest.raises(ValueError, match=r"repeats column\(s\) \['Station.Name'\]"):
        wide_csv.plan_wide_units(spark, [str(p)], spec)
