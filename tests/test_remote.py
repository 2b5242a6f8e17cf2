"""Remote CSV staging source: HTTP fetch, reuse, retry, runner wiring."""

import http.server
import threading

import pytest

from station_data_ingestion_spark.sources.remote import is_remote, stage_if_remote

pytestmark = pytest.mark.ingest

CSV = "SKN,X2022.03.01\n1.0,2.5\n"


@pytest.fixture()
def http_root(tmp_path):
    (tmp_path / "w.csv").write_text(CSV)
    handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(  # noqa: E731
        *a, directory=str(tmp_path), **kw
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_local_paths_pass_through(tmp_path):
    p = str(tmp_path / "x.csv")
    assert not is_remote(p)
    assert stage_if_remote(p, str(tmp_path / "stage")) == p


def test_http_fetch_and_reuse(http_root, tmp_path):
    stage = str(tmp_path / "stage")
    local = stage_if_remote(f"{http_root}/w.csv", stage)
    assert open(local).read() == CSV
    # second call reuses the staged file (mtime unchanged)
    import os

    mtime = os.path.getmtime(local)
    assert stage_if_remote(f"{http_root}/w.csv", stage) == local
    assert os.path.getmtime(local) == mtime


def test_http_404_raises_after_retries(http_root, tmp_path, monkeypatch):
    import urllib.error

    sleeps = []
    monkeypatch.setattr(
        "station_data_ingestion_spark.operators.sinks.time.sleep", sleeps.append
    )
    with pytest.raises(urllib.error.HTTPError):
        stage_if_remote(f"{http_root}/missing.csv", str(tmp_path / "s"), retries=2)
    # 2 retries -> 2 backoff sleeps before the final re-raise, and the
    # patched sleep must actually intercept them (no real waiting)
    assert len(sleeps) == 2
    assert all(0.25 <= s for s in sleeps)


def test_runner_ingests_remote_file(spark, http_root, tmp_path):
    from station_data_ingestion_spark.plans.jobspec import JobSpec
    from station_data_ingestion_spark.plans.runner import run_job

    cfg = {
        "data": [
            {
                "files": [f"{http_root}/w.csv"],
                "datatype": "t",
                "period": "day",
                "fill": "raw",
                "start_date": "2022-03-01",
                "end_date": "2022-03-01",
            }
        ]
    }
    obs_path = str(tmp_path / "obs")
    stats = run_job(
        spark,
        JobSpec.from_dict(cfg),
        obs_path,
        str(tmp_path / "m.json"),
        staging_dir=str(tmp_path / "stage"),
    )
    assert stats[f"{http_root}/w.csv"].created == 1
    from station_data_ingestion_spark.plans.snapshot_store import read_table
    rows = read_table(spark, obs_path).collect()
    assert len(rows) == 1 and rows[0]["station_id"] == "1.0"


def test_sequential_commits_files_before_a_failed_download(
    spark, http_root, tmp_path, monkeypatch
):
    """Sequential mode stages each file just before its own commit: a 404
    on the second URL leaves the first file committed and recorded."""
    import urllib.error

    from station_data_ingestion_spark.plans.jobspec import JobSpec
    from station_data_ingestion_spark.plans.runner import Manifest, run_job
    from station_data_ingestion_spark.plans.snapshot_store import read_table

    monkeypatch.setattr(
        "station_data_ingestion_spark.operators.sinks.time.sleep", lambda s: None
    )
    good, bad = f"{http_root}/w.csv", f"{http_root}/missing.csv"
    job = JobSpec.from_dict({"data": [{
        "files": [good, bad], "datatype": "t", "period": "day", "fill": "raw",
        "start_date": "2022-03-01", "end_date": "2022-03-01",
    }]})
    obs_path, manifest = str(tmp_path / "obs"), str(tmp_path / "m.json")
    with pytest.raises(urllib.error.HTTPError):
        run_job(spark, job, obs_path, manifest, staging_dir=str(tmp_path / "stage"))
    assert Manifest(manifest).is_complete(good)
    assert not Manifest(manifest).is_complete(bad)
    assert [r["station_id"] for r in read_table(spark, obs_path).collect()] == ["1.0"]


def test_distributed_remote_ingest(spark, tmp_path):
    """Remote files stage to local work units and ingest in one batch
    group; result == local ingestion of the same files."""
    import http.server
    import threading

    from station_data_ingestion_spark.plans.jobspec import DataItemSpec, JobSpec
    from station_data_ingestion_spark.plans.runner import run_job
    from station_data_ingestion_spark.plans.snapshot_store import read_table
    from station_data_ingestion_spark.sources.wide_csv import ingest_wide_csv

    (tmp_path / "jan.csv").write_text("SKN,X2022.01.01,X2022.01.02\n1,1.0,NA\n2,2.0,2.5\n")
    (tmp_path / "feb.csv").write_text("SKN,Station.Name,X2022.02.01\n1,Kula,3.5\n")
    handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(  # noqa: E731
        *a, directory=str(tmp_path), **kw
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        root = f"http://127.0.0.1:{srv.server_address[1]}"
        spec = DataItemSpec(
            files=[f"{root}/jan.csv", f"{root}/feb.csv"], datatype="t",
            period="day", fill="raw",
            start_date="2022-01-01", end_date="2022-12-31",
        )
        table = str(tmp_path / "obs")
        stats = run_job(
            spark, JobSpec(data=[spec]), table, None,
            staging_dir=str(tmp_path / "stage"), batch_files=True,
        )
        assert set(stats) == set(spec.files)
        local = None
        for name in ("jan.csv", "feb.csv"):
            obs, _ = ingest_wide_csv(spark, str(tmp_path / name), spec)
            local = obs if local is None else local.unionAll(obs)
        got = read_table(spark, table).select(*local.columns)
        assert got is not None
        assert got.exceptAll(local).count() == 0
        assert local.exceptAll(got).count() == 0
        assert got.count() == 4
    finally:
        srv.shutdown()


def test_staging_names_do_not_collide_on_basename(tmp_path):
    """Two URLs sharing a basename stage to distinct files."""
    import http.server
    import threading

    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    (tmp_path / "a" / "prec.csv").write_text("SKN,X2021.01.01\n1,1.0\n")
    (tmp_path / "b" / "prec.csv").write_text("SKN,X2022.01.01\n1,2.0\n")
    handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(  # noqa: E731
        *a, directory=str(tmp_path), **kw
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        root = f"http://127.0.0.1:{srv.server_address[1]}"
        stage = str(tmp_path / "stage")
        p1 = stage_if_remote(f"{root}/a/prec.csv", stage)
        p2 = stage_if_remote(f"{root}/b/prec.csv", stage)
        assert p1 != p2
        assert "X2021" in open(p1).read() and "X2022" in open(p2).read()
    finally:
        srv.shutdown()
