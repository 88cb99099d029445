"""REST export client against a hermetic local HTTP stub.

The stub replays the reference's raw.json fixture through the real API
shapes: async create → operations poll → results-location indirection →
gzipped JSON stream, plus auth-header checks and a 429-with-Retry-After
first attempt. Proves the engine's golden-fixture path works end-to-end
through HTTP, not just through LocalFixtureClient.
"""

import datetime as dt
import gzip
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from hauser_spark.sources.export_client import LocalFixtureClient
from hauser_spark.sources.rest_client import (
    ExportError,
    HttpExportTransport,
    RestExportClient,
)
from hauser_spark.sources.retry import StatusError, get_retry_info

RAW = "/root/reference/testing/testdata/raw.json"
UTC = dt.timezone.utc
WIN_START = dt.datetime(2020, 8, 26, tzinfo=UTC)
WIN_END = dt.datetime(2020, 8, 28, tzinfo=UTC)
TOKEN = "test-token-123"


class _StubState:
    def __init__(self):
        self.exports = {}          # op_id -> request params
        self.polls = {}            # op_id -> number of polls so far
        self.next_id = 0
        self.rate_limit_once = False
        self.fail_n_creates = 0    # 500 the next N create calls
        self.fail_export = False
        self.seen_auth = []


def _select_records(params):
    with open(RAW) as f:
        data = json.load(f)
    data.sort(key=lambda r: r["EventStart"])
    start = params["timeRange"]["start"]
    end = params["timeRange"]["end"]
    out = []
    for rec in data:
        if start <= rec["EventStart"] < end:
            fields = params["fields"]
            if fields:
                keep = {
                    k for k in rec
                    for f in fields
                    if (f.endswith("*") and k.startswith(f[:-1])) or k == f
                }
                rec = {k: v for k, v in rec.items() if k in keep}
            out.append(rec)
    return out


def _make_handler(state: _StubState):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def _json(self, obj, code=200, headers=None):
            body = json.dumps(obj).encode()
            self.send_response(code)
            for k, v in (headers or {}).items():
                self.send_header(k, v)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):
            state.seen_auth.append(self.headers.get("Authorization"))
            if state.rate_limit_once:
                state.rate_limit_once = False
                self._json({}, code=429, headers={"Retry-After": "7"})
                return
            if state.fail_n_creates > 0:
                state.fail_n_creates -= 1
                self._json({"error": "transient"}, code=500)
                return
            assert self.path == "/segments/v1/exports"
            n = int(self.headers["Content-Length"])
            params = json.loads(self.rfile.read(n))
            op = f"op{state.next_id}"
            state.next_id += 1
            state.exports[op] = params
            state.polls[op] = 0
            self._json({"operationId": op})

        def do_GET(self):
            if self.path.startswith("/operations/v1/"):
                state.seen_auth.append(self.headers.get("Authorization"))
                op = self.path.rsplit("/", 1)[1]
                if state.fail_export:
                    self._json({
                        "type": "SEARCH_EXPORT", "state": "FAILED",
                        "errorDetails": "boom", "estimatePctComplete": 10,
                        "results": {},
                    })
                    return
                state.polls[op] += 1
                if state.polls[op] < 2:   # first poll: still running
                    self._json({
                        "type": "SEARCH_EXPORT", "state": "RUNNING",
                        "estimatePctComplete": 50, "results": {},
                    })
                else:
                    self._json({
                        "type": "SEARCH_EXPORT", "state": "COMPLETED",
                        "estimatePctComplete": 100,
                        "results": {"searchExportId": f"se-{op}"},
                    })
            elif self.path.startswith("/search/v1/exports/"):
                state.seen_auth.append(self.headers.get("Authorization"))
                eid = self.path.split("/")[4]
                host = self.headers["Host"]
                self._json({
                    "location": f"http://{host}/stream/{eid}?sig=abc"
                })
            elif self.path.startswith("/stream/"):
                # signed URL: served WITHOUT auth (export.go:120-122)
                assert self.headers.get("Authorization") is None
                eid = self.path.split("/")[2].split("?")[0]
                op = eid[3:]
                recs = _select_records(state.exports[op])
                body = gzip.compress(
                    json.dumps(recs, separators=(",", ":")).encode()
                )
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            else:
                self._json({"error": "not found"}, code=404)

    return Handler


@pytest.fixture()
def stub():
    state = _StubState()
    server = ThreadingHTTPServer(("127.0.0.1", 0), _make_handler(state))
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{server.server_port}", state
    finally:
        server.shutdown()
        server.server_close()


def _client(spark, base, segment="everyone"):
    transport = HttpExportTransport(
        base, TOKEN, segment_id=segment,
        extra_headers={"X-Extra": "1"},
    )
    return RestExportClient(spark, transport, sleep=lambda s: None)


def test_rest_client_polls_until_completed():
    """get_export_records drives the shared AsyncExportJob poll loop with
    a fake transport: two "running" polls, then "completed" — two sleeps
    of the poll interval, one fetch, and a repeat read served from the
    client without polling again."""

    class FakeTransport:
        def __init__(self):
            self.polls = 0
            self.fetched = []

        def create_export(self, start, end, fields):
            return "op1"

        def get_progress(self, op_id):
            self.polls += 1
            return (100, "exp1") if self.polls == 3 else (40, None)

        def fetch(self, export_id):
            self.fetched.append(export_id)
            return [{"EventType": "click"}]

    sleeps = []
    transport = FakeTransport()
    rest = RestExportClient(None, transport, sleep=sleeps.append)
    op = rest.create_export(WIN_START, WIN_END, [])
    assert rest.get_export_records(op) == [{"EventType": "click"}]
    assert sleeps == [5.0, 5.0]
    assert transport.polls == 3 and transport.fetched == ["exp1"]
    assert rest.get_export_records(op) == [{"EventType": "click"}]
    assert transport.polls == 3 and len(sleeps) == 2


def test_rest_records_match_fixture_client(spark, stub):
    base, state = stub
    rest = _client(spark, base)
    op = rest.create_export(WIN_START, WIN_END, [])
    got = rest.get_export_records(op)

    local = LocalFixtureClient(spark, RAW)
    want = local.get_export_records(
        local.create_export(WIN_START, WIN_END, [])
    )
    assert got == want
    assert len(got) > 0
    # every API call authed with the Basic token (transport.go:27)
    assert all(a == "Basic " + TOKEN for a in state.seen_auth)


def test_rest_dataframe_decode(spark, stub):
    base, _state = stub
    rest = _client(spark, base)
    op = rest.create_export(WIN_START, WIN_END, ["EventStart", "PageAgent"])
    df = rest.get_export(op)
    assert "EventStart" in df.columns
    assert dict(df.dtypes)["EventStart"] == "timestamp"
    assert df.count() > 0


def test_rate_limited_create_raises_with_retry_after(spark, stub):
    base, state = stub
    state.rate_limit_once = True
    rest = _client(spark, base)
    with pytest.raises(StatusError) as ei:
        rest.create_export(WIN_START, WIN_END, [])
    err = ei.value
    assert err.status_code == 429
    should_retry, wait = get_retry_info(err)
    assert should_retry and wait == dt.timedelta(seconds=7)
    # second attempt (the service's W8 retry) succeeds
    op = rest.create_export(WIN_START, WIN_END, [])
    assert rest.get_export_records(op)


def test_failed_operation_raises_export_error(spark, stub):
    base, state = stub
    rest = _client(spark, base)
    op = rest.create_export(WIN_START, WIN_END, [])
    state.fail_export = True
    with pytest.raises(ExportError, match="boom"):
        rest.get_export_records(op)


def test_service_backs_off_through_transient_500s(spark, stub, tmp_path):
    """W9 end-to-end over HTTP: the service loop survives transient 500s
    from the export API with the reference's exponential backoff
    (Backoff x 2^step, internal/service.go:231-245) and still completes
    every bundle with correct content."""
    from hauser_spark.config import Config
    from hauser_spark.service import HauserService
    from tests.test_parity_golden import NOW, START, RecordingStorage

    base, state = stub
    state.fail_n_creates = 2
    cfg = Config(
        export_duration=dt.timedelta(hours=24),
        start_time=START,
        tmp_dir=str(tmp_path / "t"),
        storage_only=True,
        save_as_json=True,
        backoff=dt.timedelta(seconds=8),
    )
    storage = RecordingStorage(str(tmp_path / "storage"))
    sleeps = []
    svc = HauserService(
        spark=spark,
        config=cfg.validate(NOW),
        client=_client(spark, base),
        storage=storage,
        database=None,
        get_now=lambda: NOW,
    )
    n = svc.run(max_bundles=10, sleep=sleeps.append)
    assert n == 5  # all five day-bundles processed despite two failures
    # exponential schedule for the two failed attempts: 8s, then 16s
    assert sleeps[:2] == [8.0, 16.0]
    assert len(storage.uploaded) == 5


def test_service_gives_up_after_max_backoff_steps(spark, stub, tmp_path):
    """Fatal path: persistent failure exhausts BackoffStepsMax and
    re-raises (the reference log.Fatal's, internal/service.go:234-236)."""
    from hauser_spark.config import Config
    from hauser_spark.service import HauserService
    from hauser_spark.sources.retry import StatusError
    from tests.test_parity_golden import NOW, START, RecordingStorage

    base, state = stub
    state.fail_n_creates = 10_000
    cfg = Config(
        export_duration=dt.timedelta(hours=24),
        start_time=START,
        tmp_dir=str(tmp_path / "t"),
        storage_only=True,
        save_as_json=True,
        backoff=dt.timedelta(seconds=1),
        backoff_steps_max=3,
    )
    storage = RecordingStorage(str(tmp_path / "storage"))
    sleeps = []
    svc = HauserService(
        spark=spark,
        config=cfg.validate(NOW),
        client=_client(spark, base),
        storage=storage,
        database=None,
        get_now=lambda: NOW,
    )
    with pytest.raises(StatusError):
        svc.run(max_bundles=10, sleep=sleeps.append)
    assert sleeps == [1.0, 2.0, 4.0]  # three steps, then fatal


def test_golden_base_case_through_http(spark, stub, tmp_path):
    """The reference's TestHauser base case, byte-compared against its
    golden files, with the export source reached over HTTP instead of
    the in-process fixture client."""
    from hauser_spark.config import Config
    from hauser_spark.service import HauserService
    from hauser_spark.sinks.warehouse import SparkWarehouseDatabase
    from tests.test_parity_golden import (
        DEFAULT_COLUMNS,
        NOW,
        REF,
        START,
        RecordingStorage,
        _assert_golden,
        _pre_create_table,
    )

    base, _state = stub
    cfg = Config(
        export_duration=dt.timedelta(hours=24),
        start_time=START,
        tmp_dir=str(tmp_path / "t"),
    )
    storage = RecordingStorage(str(tmp_path / "storage"))
    db = SparkWarehouseDatabase(spark, str(tmp_path / "warehouse"))
    _pre_create_table(spark, db, DEFAULT_COLUMNS)
    svc = HauserService(
        spark=spark,
        config=cfg.validate(NOW),
        client=_client(spark, base),
        storage=storage,
        database=db,
        get_now=lambda: NOW,
    )
    svc.init()
    bundles = 0
    while True:
        if not svc.process_next().processed:
            break
        bundles += 1
        assert bundles < 20, "runaway loop"
    assert bundles == 5
    _assert_golden(storage, f"{REF}/default")
    assert db.export_df().count() > 0
