"""Per-operator unit tests mirroring the reference's unit suite (SURVEY §5):
transform cases (internal/service_test.go:240-311), retry classification
(internal/service_test.go:196-238), schema reconciliation
(warehouse/schema_test.go:56-280), scalar conversion incl. truncation
(warehouse/redshift_test.go:27-50), window math, and async-client polling.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from hauser_spark.functions import (
    format_rfc3339_micro,
    redshift_value_to_string,
    value_to_string,
)
from hauser_spark.schema import Schema, WarehouseField, make_schema
from hauser_spark.sources.retry import (
    DEFAULT_RETRY_AFTER,
    AsyncExportJob,
    StatusError,
    get_retry_info,
    parse_retry_after,
)
from hauser_spark.transform import build_parity_projection
from hauser_spark.windows import (
    next_bundle_window,
    truncate,
    validate_export_duration,
    wait_duration,
)

UTC = dt.timezone.utc


# ---------- retry (TestGetRetryInfo parity) ----------

@pytest.mark.parametrize(
    "err,exp_retry,exp_after",
    [
        (RuntimeError("random error!"), True, DEFAULT_RETRY_AFTER),
        (StatusError(status_code=429, retry_after=dt.timedelta(seconds=3)), True, dt.timedelta(seconds=3)),
        (StatusError(status_code=500, retry_after=dt.timedelta(seconds=3)), True, dt.timedelta(seconds=3)),
        (StatusError(status_code=503, retry_after=dt.timedelta(seconds=3)), True, dt.timedelta(seconds=3)),
        (StatusError(status_code=404, retry_after=dt.timedelta(seconds=3)), False, DEFAULT_RETRY_AFTER),
    ],
)
def test_get_retry_info(err, exp_retry, exp_after):
    do_retry, after = get_retry_info(err)
    assert do_retry == exp_retry
    assert after == exp_after


def test_parse_retry_after():
    assert parse_retry_after({"Retry-After": "7"}) == dt.timedelta(seconds=7)
    assert parse_retry_after({"Retry-After": "bogus"}) == dt.timedelta(0)
    assert parse_retry_after({}) == dt.timedelta(0)
    # Go's Header.Get is case-insensitive (client/client.go:115-130)
    assert parse_retry_after({"retry-after": "5"}) == dt.timedelta(seconds=5)
    assert parse_retry_after({"RETRY-AFTER": "5"}) == dt.timedelta(seconds=5)


def test_async_job_polls_to_completion():
    class FakeTransport:
        def __init__(self):
            self.polls = 0

        def create_export(self, start, end, fields):
            return "op1"

        def get_progress(self, op_id):
            self.polls += 1
            return (100, "exp1") if self.polls >= 3 else (50, None)

        def fetch(self, export_id):
            return f"data:{export_id}"

    sleeps = []
    t = FakeTransport()
    job = AsyncExportJob(transport=t, sleep=sleeps.append)
    assert job.run(None, None, []) == "data:exp1"
    assert t.polls == 3
    assert len(sleeps) == 2  # slept between polls, not after completion


# ---------- schema reconciliation (schema_test.go parity) ----------

def test_reconcile_legacy_rename_and_append():
    base = make_schema()
    cols = ["EventStart", "PageAgent", "EventTargetSelectorTok", "CustomColumn"]
    rec = base.reconcile_with_existing(cols)
    names = rec.db_names()
    # destination order preserved, then every missing export field appended
    assert names[:4] == cols
    # 59 base fields (warehouse/schema.go:9-69; golden fresh header = 59),
    # minus EventStart + PageUserAgent already present via the legacy cols
    assert len(rec) == 4 + (59 - 2)
    # legacy rename: PageAgent is fed from PageUserAgent
    page_agent = rec.fields[1]
    assert page_agent.fs_field_name == "PageUserAgent"
    # destination-only column has no source field
    assert rec.fields[3].fs_field_name == ""
    # PageUserAgent must NOT be appended again
    assert names.count("PageUserAgent") == 0


def test_reconcile_case_insensitive():
    base = make_schema()
    rec = base.reconcile_with_existing(["eventstart", "EVENTTYPE"])
    assert rec.fields[0].fs_field_name == "EventStart"
    assert rec.fields[1].fs_field_name == "EventType"


def test_fullstory_fields_wildcards():
    fields = make_schema().get_fullstory_fields()
    assert "CustomVars" not in fields
    for w in ("user_*", "evt_*", "page_*"):
        assert w in fields
    assert fields.index("IndvId") == 0


def test_compatibility_rules():
    a = Schema([WarehouseField("A", "A", "string")])
    b = Schema(
        [WarehouseField("a", "A", "string"), WarehouseField("B", "B", "string")]
    )
    assert a.is_compatible_with(b)  # case-insensitive prefix
    assert not b.is_compatible_with(a)  # more cols than table


# ---------- window math ----------

def test_window_alignment():
    dur = dt.timedelta(hours=24)
    last = dt.datetime(2020, 8, 26, 7, 30, tzinfo=UTC)
    start, end = next_bundle_window(last, dur)
    assert start == last
    # end snaps to the epoch-aligned grid
    assert end == dt.datetime(2020, 8, 27, tzinfo=UTC)


def test_truncate_epoch_aligned():
    t = dt.datetime(2020, 8, 26, 13, 47, tzinfo=UTC)
    assert truncate(t, dt.timedelta(hours=6)) == dt.datetime(2020, 8, 26, 12, tzinfo=UTC)


def test_duration_validation():
    validate_export_duration(dt.timedelta(hours=6))
    with pytest.raises(ValueError):
        validate_export_duration(dt.timedelta(minutes=10))
    with pytest.raises(ValueError):
        validate_export_duration(dt.timedelta(hours=7))  # doesn't divide 24h


def test_wait_duration_gate():
    end = dt.datetime(2020, 9, 1, tzinfo=UTC)
    now = dt.datetime(2020, 9, 1, 12, tzinfo=UTC)
    delay = dt.timedelta(hours=24)
    w = wait_duration(end, now, delay)
    assert w == dt.timedelta(hours=12)  # mature at end+delay = 09-02T00


# ---------- transform (TestTransformExportJSONRecord parity) ----------

def _project_one(spark, record_cols: dict, schema: Schema) -> dict:
    df = spark.createDataFrame([record_cols])
    out = build_parity_projection(df, schema)
    row = out.collect()[0]
    return row.asDict()


def test_transform_no_custom_vars(spark):
    schema = Schema(
        [
            WarehouseField("EventType", "EventType", "string"),
            WarehouseField("CustomVars", "CustomVars", "string"),
        ]
    )
    got = _project_one(spark, {"EventType": "click"}, schema)
    assert got == {"EventType": "click", "CustomVars": "{}"}


def test_transform_custom_vars_pivot(spark):
    schema = Schema(
        [
            WarehouseField("EventType", "EventType", "string"),
            WarehouseField("CustomVars", "CustomVars", "string"),
        ]
    )
    got = _project_one(
        spark,
        {"EventType": "custom", "evt_b_str": "x", "evt_a_real": "4"},
        schema,
    )
    # keys sorted; _real emitted unquoted with preserved literal
    assert got["CustomVars"] == '{"evt_a_real":4,"evt_b_str":"x"}'


def test_transform_custom_vars_go_escapes_match_marshal(spark):
    """A CustomVars string value gets Go json.Marshal's default escapes,
    U+2028/U+2029 included: the projected text equals the service's
    _go_json_marshal of the same key and value."""
    from hauser_spark.service import _go_json_marshal

    schema = Schema(
        [
            WarehouseField("EventType", "EventType", "string"),
            WarehouseField("CustomVars", "CustomVars", "string"),
        ]
    )
    value = "a\u2028b\u2029c<&>"
    got = _project_one(
        spark, {"EventType": "custom", "evt_s_str": value}, schema
    )
    want = _go_json_marshal([{"evt_s_str": value}]).decode()[1:-1]
    assert "\\u2028" in want and "\\u2029" in want
    assert got["CustomVars"] == want


def test_transform_missing_field_empty(spark):
    schema = Schema(
        [
            WarehouseField("EventType", "EventType", "string"),
            WarehouseField("PageUrl", "PageUrl", "string"),
            WarehouseField("CustomVars", "CustomVars", "string"),
        ]
    )
    got = _project_one(spark, {"EventType": "click"}, schema)
    assert got["PageUrl"] == ""


def test_transform_destination_only_empty(spark):
    schema = Schema(
        [
            WarehouseField("EventType", "EventType", "string"),
            WarehouseField("LegacyCol", "", None),
        ]
    )
    got = _project_one(spark, {"EventType": "click"}, schema)
    assert got["LegacyCol"] == ""


# ---------- scalar conversion (redshift_test.go parity) ----------

def test_value_conversions(spark):
    df = spark.createDataFrame(
        [("line1\nline2\rdone", dt.datetime(2020, 8, 27, 6, 20, 26, 900000))],
        "s string, t timestamp",
    )
    row = df.select(
        value_to_string(F.col("s"), False).alias("clean"),
        format_rfc3339_micro(F.col("t")).alias("rfc"),
        redshift_value_to_string(F.col("s"), False, varchar_max=6).alias("trunc"),
        redshift_value_to_string(F.col("t"), True).alias("rs_time"),
    ).collect()[0]
    assert row["clean"] == "line1 line2 done"
    assert row["rfc"] == "2020-08-27T06:20:26.9Z"
    assert row["trunc"] == "line1"  # VarCharMax-1 = 5 chars
    assert row["rs_time"] == "2020-08-27 06:20:26.9 +0000 UTC"


def test_salted_join_matches_plain_join(spark):
    """Salting must be a pure physical rewrite: same rows as the plain
    equi-join, for inner and left, including unmatched fact keys."""
    from hauser_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(k, i) for i in range(200) for k in ("hot", "hot", "cold%d" % (i % 5))]
        + [("orphan", 999)],
        ["k", "v"],
    )
    dim = spark.createDataFrame(
        [("hot", "H"), ("cold0", "C0"), ("cold3", "C3")], ["k", "attr"]
    )
    for how in ("inner", "left"):
        plain = {tuple(r) for r in fact.join(dim, "k", how).collect()}
        salted = {tuple(r) for r in salted_join(fact, dim, "k", 8, how).collect()}
        assert salted == plain, how
    # the join key is (k, salt): physical spread over n_salts partitions
    plan = salted_join(fact, dim, "k", 8)._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan


def test_salted_join_rejects_right_join(spark):
    import pytest as _pytest

    from hauser_spark.operators.skew import salted_join

    df = spark.range(1).withColumnRenamed("id", "k")
    with _pytest.raises(ValueError):
        salted_join(df, df, "k", how="right")


def test_operator_catalog_is_current():
    """OPERATORS.md must match the live queries() registry — regenerate
    with `python3 gen_catalog.py` when adding an operator."""
    import gen_catalog

    with open("OPERATORS.md") as f:
        on_disk = f.read()
    assert on_disk == gen_catalog.render()


def test_only_memo_reads_application_id():
    """Session-scoped state is keyed in one place, ``memo.session_memo``.
    The one exception is ``tables.register_views``: it tracks the LAST
    sf_dir registered per application, and a memo keyed by sf_dir would
    skip re-registering A after the sequence A, B, A."""
    import ast
    import pathlib

    import hauser_spark

    root = pathlib.Path(hauser_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "memo.py":
            continue
        tree = ast.parse(path.read_text())
        allowed = set()
        if rel == "tables.py":
            fn = next(
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "register_views"
            )
            allowed = set(range(fn.lineno, fn.end_lineno + 1))
        offenders += [
            f"{rel}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute)
            and n.attr == "applicationId"
            and n.lineno not in allowed
        ]
    assert not offenders, offenders


def test_only_the_fold_helpers_touch_versioned_state():
    """The versioned-state protocol (commit rule, replay-overwrite, the
    two-version GC horizon) lives in ``streaming/incremental``'s
    ``_fold_versioned`` and ``_read_latest``; no other code in
    ``hauser_spark/streaming/`` lists or collects versions or starts a
    ``foreachBatch`` query itself.  One exception: the minhash index
    (``stream_minhash_dedup``) is append-only ``batch=N`` partitions,
    not versioned state, so it starts its own ``foreachBatch``."""
    import ast
    import pathlib

    import hauser_spark.streaming

    root = pathlib.Path(hauser_spark.streaming.__file__).parent
    guarded = {"_committed_versions", "_gc_versions", "foreachBatch"}
    allowed = {
        "_fold_versioned": {"_gc_versions", "foreachBatch"},
        "_read_latest": {"_committed_versions"},
        "stream_minhash_dedup": {"foreachBatch"},
    }
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        ok = {}
        for fn in tree.body:
            if isinstance(fn, ast.FunctionDef) and fn.name in allowed:
                for line in range(fn.lineno, fn.end_lineno + 1):
                    ok[line] = allowed[fn.name]
        for n in ast.walk(tree):
            name = (
                n.id if isinstance(n, ast.Name)
                else n.attr if isinstance(n, ast.Attribute)
                else None
            )
            if name in guarded and name not in ok.get(n.lineno, ()):
                offenders.append(f"{path.name}:{n.lineno} {name}")
    assert not offenders, offenders


def test_table_memo_invalidates_on_layout_change(spark, tmp_path, monkeypatch):
    """The load_table memo is keyed by the RESOLVED path: after a layout
    compaction redirects source → compacted copy, the memo must miss and
    re-read (a stale FileIndex over replaced files would fail or read
    old bytes)."""
    import shutil

    from hauser_spark import tables as tb

    sfd = tmp_path / "sfx"
    sfd.mkdir()
    shutil.copy("/root/testdata/sf0.001/nation.parquet", sfd / "nation.parquet")
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_CACHE", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_GRAFT_NO_LAYOUT_OPT", raising=False)

    before = tb.load_table(spark, str(sfd), "nation")
    n = before.count()
    # memo hit: same object back for the same resolved path
    assert tb.load_table(spark, str(sfd), "nation") is before

    tb.optimize_layout(str(sfd), tables=("nation",))
    after = tb.load_table(spark, str(sfd), "nation")
    # resolved path changed → fresh frame, same rows
    assert after is not before
    assert after.count() == n
