import json

import pytest

from station_data_ingestion_spark.operators import sinks

pytestmark = pytest.mark.ingest


def test_backoff_schedule_shape():
    delays = list(sinks.backoff_delays(5, seed=7))
    assert len(delays) == 5
    assert 0.25 <= delays[0] <= 0.5
    for prev, cur in zip(delays, delays[1:]):
        assert 2 * prev <= cur <= 3 * prev


def test_with_retries_gives_up():
    calls = []

    def boom():
        calls.append(1)
        raise RuntimeError("nope")

    with pytest.raises(RuntimeError):
        sinks.with_retries(boom, retries=3, sleep=lambda s: None)
    assert len(calls) == 4  # initial + 3 retries


def test_with_retries_recovers():
    state = {"n": 0}

    def flaky():
        state["n"] += 1
        if state["n"] < 3:
            raise RuntimeError("flaky")

    sinks.with_retries(flaky, retries=5, sleep=lambda s: None)
    assert state["n"] == 3


def test_write_docs_chunks(spark, tmp_path):
    out = tmp_path / "sink"
    df = spark.range(1050).selectExpr("id", "id * 2 as v")
    sinks.write_docs(
        df,
        lambda: sinks.jsonl_dir_transport(str(out)),
        chunk_size=500,
        max_parallelism=1,
    )
    docs = sinks.read_jsonl_docs(str(out))
    assert len(docs) == 1050
    assert {d["id"] for d in docs} == set(range(1050))
    # chunking: 1050 docs on 1 partition -> 3 chunk files
    files = [p for p in out.iterdir() if p.suffix == ".jsonl"]
    assert len(files) == 3


def test_sparse_json_docs_drops_nodata(spark):
    df = spark.createDataFrame(
        [("1", "Kula", "NA"), ("2", "NA", "obs")],
        "skn string, name string, observer string",
    )
    docs = [json.loads(r.json) for r in sinks.sparse_json_docs(df, "NA").collect()]
    by_skn = {d["skn"]: d for d in docs}
    assert "observer" not in by_skn["1"] and by_skn["1"]["name"] == "Kula"
    assert "name" not in by_skn["2"] and by_skn["2"]["observer"] == "obs"


def test_envelope_docs(spark):
    df = spark.createDataFrame([("1", 2.0)], "station_id string, value double")
    doc = json.loads(sinks.envelope_docs(df).collect()[0].json)
    assert doc["name"] == "hcdp_station_value"
    assert doc["value"] == {"station_id": "1", "value": 2.0}


def test_with_retries_ignore_exceptions_skips_retry():
    calls = []

    def boom():
        calls.append(1)
        raise KeyError("not found")

    with pytest.raises(KeyError):
        sinks.with_retries(
            boom, retries=5, sleep=lambda s: None, ignore_exceptions=(KeyError,)
        )
    assert len(calls) == 1  # no retry: listed type propagates immediately


def test_with_retries_ignore_exceptions_exact_type_only():
    # reference checks `type(e) in ignore_exceptions`: a SUBCLASS of a
    # listed type still retries
    class Sub(KeyError):
        pass

    calls = []

    def boom():
        calls.append(1)
        raise Sub("still retried")

    with pytest.raises(Sub):
        sinks.with_retries(
            boom, retries=2, sleep=lambda s: None, ignore_exceptions=(KeyError,)
        )
    assert len(calls) == 3  # initial + 2 retries


def test_token_provider_caches_then_refreshes_before_expiry():
    fetched = []
    clock = {"t": 0.0}

    def fetch():
        fetched.append(1)
        return f"tok-{len(fetched)}", 1000.0

    prov = sinks.TokenProvider(fetch, refresh_margin=300.0, clock=lambda: clock["t"])
    assert prov.token() == "tok-1"
    assert prov.token() == "tok-1"  # cached
    assert len(fetched) == 1
    clock["t"] = 650.0  # still > margin before expiry (1000 - 300 = 700)
    assert prov.token() == "tok-1"
    clock["t"] = 700.0  # inside the refresh margin -> proactive refresh
    assert prov.token() == "tok-2"
    assert len(fetched) == 2


def _fixed_fetch():
    return "t", 10.0


def test_token_provider_survives_pickle():
    import pickle

    prov = sinks.TokenProvider(_fixed_fetch)
    prov.token()
    clone = pickle.loads(pickle.dumps(prov))
    assert clone.token() == "t"  # cache dropped, lock recreated, refetches


def _auth_http_server(expired: set, seen: list):
    """Server accepting each issued token ONCE, then 401 (forced expiry)."""
    import http.server

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
            tok = (self.headers.get("Authorization") or "").removeprefix("Bearer ")
            seen.append(tok)
            if not tok or tok in expired:
                self.send_response(401)
                self.end_headers()
                return
            expired.add(tok)  # single-use: next request must re-auth
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    return http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)


def test_http_transport_refreshes_token_mid_write(spark):
    """Token expires between chunks; 401 -> invalidate -> retry succeeds.

    [reference: src/modules/ingestion_handler.py:51-67] -- the job must
    complete without a failed chunk even when the bearer token issued at
    job start is no longer valid for later chunks.
    """
    import threading

    expired: set = set()
    seen: list = []
    srv = _auth_http_server(expired, seen)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_address[1]}/docs"
    try:
        import uuid

        def fetch():
            # executes on the executor's Python worker; uniqueness (not a
            # driver-side counter) marks each re-fetch
            return f"tok-{uuid.uuid4().hex}", 3600.0

        prov = sinks.TokenProvider(fetch)
        df = spark.range(30).selectExpr("id")
        sinks.write_docs(
            df,
            lambda: sinks.http_post_transport(url, token=prov),
            chunk_size=10,
            max_parallelism=1,
            retries=3,
        )
        # 3 chunks x single-use tokens: chunk N reuses the cached token,
        # gets 401, invalidates, retries with a fresh one -> 3 distinct
        # accepted tokens and at least one 401'd reuse in between
        assert len(expired) == 3  # three distinct tokens were accepted
        assert len(seen) > 3  # some requests were 401'd reuses
    finally:
        srv.shutdown()


def test_password_grant_fetch_round_trip():
    import base64
    import http.server
    import json as _json
    import threading
    import urllib.parse

    got = {}

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            got["fields"] = dict(urllib.parse.parse_qsl(body.decode()))
            got["auth"] = self.headers.get("Authorization")
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(
                _json.dumps({"access_token": "granted", "expires_in": 42}).encode()
            )

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        fetch = sinks.password_grant_fetch(
            f"http://127.0.0.1:{srv.server_address[1]}/token",
            api_key="k", api_secret="s", username="u", password="p",
            client_name="c",
        )
        tok, ttl = fetch()
        assert (tok, ttl) == ("granted", 42.0)
        assert got["fields"] == {
            "grant_type": "password", "username": "u", "password": "p",
            "scope": "PRODUCTION", "client_name": "c",
        }
        expect = base64.b64encode(b"k:s").decode()
        assert got["auth"] == f"Basic {expect}"
    finally:
        srv.shutdown()
