"""The warehouse table layer in both export layouts.

Shared behaviour (table init, ADD COLUMN evolution, jagged loads,
incompatible schemas, exactly-once repair, crash-safe rewrites) runs over
the row-grain layout (W5 delete-past-watermark, warehouse/redshift.go) and
the day-partitioned one. The partitioned layout alone adds partition-routed
loads, first-of-day WRITE_TRUNCATE, W6 partition-grain repair
(warehouse/bigquery.go:59-161), and PartitionExpiration retention
(warehouse/bigquery.go:206-227).
"""

import datetime as dt
import json
import logging
import os

import pytest

from hauser_spark.config import Config
from hauser_spark.schema import INT64, STRING, TIME, Schema, WarehouseField
from hauser_spark.service import HauserService, make_database
from hauser_spark.sinks.storage import LocalStorage
from hauser_spark.sinks.warehouse import (
    PARTITION_COL,
    IncompatibleSchemaError,
    PartitionedSparkWarehouseDatabase,
    SparkWarehouseDatabase,
)
from hauser_spark.sources.export_client import LocalFixtureClient

UTC = dt.timezone.utc
DAY1 = dt.datetime(2020, 8, 26, tzinfo=UTC)
HOUR = dt.timedelta(hours=1)
LAYOUTS = {
    "row_grain": SparkWarehouseDatabase,
    "partitioned": PartitionedSparkWarehouseDatabase,
}


def tiny_schema() -> Schema:
    return Schema(
        [
            WarehouseField("EventStart", "EventStart", TIME),
            WarehouseField("EventType", "EventType", STRING),
            WarehouseField("UserId", "UserId", INT64),
        ]
    )


def write_csv(path, rows):
    with open(path, "w") as f:
        f.write("EventStart,EventType,UserId\n")
        for r in rows:
            f.write(",".join(str(v) for v in r) + "\n")
    return path


def bundle_rows(day_hour, n):
    """n rows inside the hour starting at day_hour."""
    return [
        (
            (day_hour + dt.timedelta(minutes=5 * i)).strftime("%Y-%m-%d %H:%M:%S"),
            "click",
            i,
        )
        for i in range(n)
    ]


@pytest.fixture
def db(spark, tmp_path):
    d = PartitionedSparkWarehouseDatabase(spark, str(tmp_path / "wh"))
    d.init_export_table(tiny_schema())
    return d


@pytest.fixture(params=list(LAYOUTS))
def any_db(request, spark, tmp_path):
    d = LAYOUTS[request.param](spark, str(tmp_path / "wh"))
    d.init_export_table(tiny_schema())
    return d


def test_fresh_table_metadata(any_db):
    # empty table: exists, has columns, empty df
    db = any_db
    assert db.does_table_exist(db.export_path)
    assert db.init_export_table(tiny_schema()) is True
    assert db.get_export_table_columns() == ["EventStart", "EventType", "UserId"]
    assert db.export_df().count() == 0
    assert db.last_sync_point() is None
    assert db.last_sync_point(fallback=DAY1) == DAY1


def test_catalog_reads_fire_no_spark_job(spark, any_db, tmp_path):
    """Both layouts read the export table with its declared schema, so
    listing columns and building the frame schedule nothing."""
    db = any_db
    csv = write_csv(tmp_path / "b.csv", bundle_rows(DAY1, 3))
    db.load_to_warehouse(str(csv), tiny_schema(), bundle_start=DAY1)
    sc = spark.sparkContext
    group = f"catalog-{os.path.basename(str(tmp_path))}"
    sc.setJobGroup(group, group)
    try:
        cols = db.get_export_table_columns()
        df = db.export_df()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert df.columns == cols == ["EventStart", "EventType", "UserId"]


def test_partition_routed_load_and_truncate(db, tmp_path):
    s = tiny_schema()
    # first bundle of the day: 00:00 start ⇒ truncate mode
    csv1 = write_csv(tmp_path / "b1.csv", bundle_rows(DAY1, 4))
    db.load_to_warehouse(str(csv1), s, bundle_start=DAY1)
    db.save_sync_point(DAY1 + dt.timedelta(hours=1), DAY1)
    # second bundle same day appends
    csv2 = write_csv(
        tmp_path / "b2.csv", bundle_rows(DAY1 + dt.timedelta(hours=1), 3)
    )
    db.load_to_warehouse(str(csv2), s, bundle_start=DAY1 + dt.timedelta(hours=1))
    db.save_sync_point(DAY1 + dt.timedelta(hours=2), DAY1)
    assert db.export_df().count() == 7
    # the day partition directory exists on disk
    assert os.path.isdir(os.path.join(db.export_path, f"{PARTITION_COL}=2020-08-26"))
    # re-running the FIRST bundle (crash replay) truncates the partition:
    # count returns to 4, not 11
    db.load_to_warehouse(str(csv1), s, bundle_start=DAY1)
    assert db.export_df().count() == 4


def test_w6_repair_backtracks_to_day_start(db, tmp_path):
    s = tiny_schema()
    csv1 = write_csv(tmp_path / "b1.csv", bundle_rows(DAY1, 4))
    db.load_to_warehouse(str(csv1), s, bundle_start=DAY1)
    db.save_sync_point(DAY1 + dt.timedelta(hours=1), DAY1)
    # orphan: a load committed whose checkpoint didn't
    csv2 = write_csv(
        tmp_path / "b2.csv", bundle_rows(DAY1 + dt.timedelta(hours=1), 3)
    )
    db.load_to_warehouse(str(csv2), s, bundle_start=DAY1 + dt.timedelta(hours=1))
    # repair: watermark backtracks to start of day, sync rows past it removed,
    # export rows untouched (cleanup happens on the next first-of-day load)
    wm = db.last_sync_point()
    assert wm == DAY1
    assert db.read_sync_table().count() == 0
    assert db.export_df().count() == 7
    # replaying the day from its first bundle heals: truncate then append
    db.load_to_warehouse(str(csv1), s, bundle_start=DAY1)
    db.save_sync_point(DAY1 + dt.timedelta(hours=1), DAY1)
    db.load_to_warehouse(str(csv2), s, bundle_start=DAY1 + dt.timedelta(hours=1))
    db.save_sync_point(DAY1 + dt.timedelta(hours=2), DAY1)
    assert db.export_df().count() == 7  # exactly once, no duplicates
    assert db.last_sync_point() == DAY1 + dt.timedelta(hours=2)


def _replay(db, tmp_path, windows, watermark, until):
    """What the service does after a repair: load and checkpoint every
    window from the returned watermark up to ``until``."""
    t = watermark
    while t < until:
        csv = write_csv(tmp_path / f"replay-{t:%H}.csv", windows[t])
        db.load_to_warehouse(str(csv), tiny_schema(), bundle_start=t)
        db.save_sync_point(t + HOUR, t)
        t += HOUR


def test_crash_after_load_is_exactly_once(any_db, tmp_path):
    db = any_db
    windows = {DAY1: bundle_rows(DAY1, 4), DAY1 + HOUR: bundle_rows(DAY1 + HOUR, 3)}
    _replay(db, tmp_path, windows, DAY1, DAY1 + HOUR)
    # a load committed whose checkpoint didn't
    csv = write_csv(tmp_path / "orphan.csv", windows[DAY1 + HOUR])
    db.load_to_warehouse(str(csv), tiny_schema(), bundle_start=DAY1 + HOUR)
    _replay(db, tmp_path, windows, db.last_sync_point(), DAY1 + 2 * HOUR)
    rows = sorted(tuple(r) for r in db.export_df().collect())
    want = sorted(
        (dt.datetime.strptime(t, "%Y-%m-%d %H:%M:%S"), e, u)
        for w in windows.values()
        for t, e, u in w
    )
    assert rows == want
    assert db.last_sync_point() == DAY1 + 2 * HOUR


def test_repair_deletes_row_at_window_start(any_db, tmp_path):
    """Windows include their start: a row stamped exactly at the watermark
    belongs to the window that was not checkpointed, so repair must undo
    it."""
    db = any_db
    windows = {DAY1: bundle_rows(DAY1, 2), DAY1 + HOUR: bundle_rows(DAY1 + HOUR, 1)}
    _replay(db, tmp_path, windows, DAY1, DAY1 + HOUR)
    csv = write_csv(tmp_path / "orphan.csv", windows[DAY1 + HOUR])
    db.load_to_warehouse(str(csv), tiny_schema(), bundle_start=DAY1 + HOUR)
    _replay(db, tmp_path, windows, db.last_sync_point(), DAY1 + 2 * HOUR)
    assert db.export_df().count() == 3


def test_partition_expiration(spark, tmp_path):
    db = PartitionedSparkWarehouseDatabase(
        spark, str(tmp_path / "wh"), partition_expiration=dt.timedelta(days=3)
    )
    s = tiny_schema()
    db.init_export_table(s)
    for d in range(6):
        day = DAY1 + dt.timedelta(days=d)
        csv = write_csv(tmp_path / f"d{d}.csv", bundle_rows(day, 2))
        db.load_to_warehouse(str(csv), s, bundle_start=day)
    assert db.export_df().count() == 12
    now = DAY1 + dt.timedelta(days=6)  # partitions for day 0..5
    dropped = db.ensure_partition_expiration(now=now)
    # cutoff = day 3 start ⇒ days 0,1,2 dropped
    assert dropped == 3
    assert db.export_df().count() == 6


def test_schema_evolution(any_db, tmp_path):
    db = any_db
    s = tiny_schema()
    csv1 = write_csv(tmp_path / "b1.csv", bundle_rows(DAY1, 2))
    db.load_to_warehouse(str(csv1), s, bundle_start=DAY1)
    wider = Schema(
        s.fields + [WarehouseField("PageUrl", "PageUrl", STRING)]
    )
    db.apply_export_schema(wider)
    assert db.get_export_table_columns() == [
        "EventStart", "EventType", "UserId", "PageUrl",
    ]
    # old rows null-filled; jagged load of the old 3-col CSV still works
    csv2 = write_csv(
        tmp_path / "b2.csv", bundle_rows(DAY1 + dt.timedelta(hours=1), 2)
    )
    db.load_to_warehouse(str(csv2), s, bundle_start=DAY1 + dt.timedelta(hours=1))
    df = db.export_df()
    assert df.columns == ["EventStart", "EventType", "UserId", "PageUrl"]
    assert df.count() == 4
    assert df.filter(df.PageUrl.isNull()).count() == 4
    # the evolved schema survives a fresh database object
    fresh = type(db)(db.spark, db.dir)
    assert fresh.get_export_table_columns() == df.columns


def test_incompatible_schema_rejected(any_db):
    db = any_db
    fields = tiny_schema().fields
    with pytest.raises(IncompatibleSchemaError, match="more columns"):
        db.apply_export_schema(Schema(fields[:2]))
    with pytest.raises(IncompatibleSchemaError, match="column 1 mismatch"):
        db.apply_export_schema(
            Schema([fields[0], WarehouseField("PageUrl", "PageUrl", STRING), fields[2]])
        )
    assert db.get_export_table_columns() == ["EventStart", "EventType", "UserId"]


# ---------------------------------------------------------------- service


def _records():
    """Three hourly windows of DAY1; one record sits exactly on a window
    start, and user_* keys land in CustomVars."""
    out = []
    for h in range(3):
        for i in range(3):
            t = DAY1 + h * HOUR + dt.timedelta(minutes=20 * i)
            out.append(
                {
                    "EventStart": t.strftime("%Y-%m-%dT%H:%M:%SZ"),
                    "EventType": "click",
                    "UserId": 100 * h + i,
                    "user_plan_str": f"p{i}",
                }
            )
    return out


class _Crash(RuntimeError):
    pass


def _service(spark, tmp_path, partitioned, crash_after_load=()):
    """A row-grain or partitioned HauserService over a fixture written
    here; a load of a window in ``crash_after_load`` commits and then
    raises once, before the checkpoint."""
    fixture = tmp_path / "raw.json"
    if not fixture.exists():
        fixture.write_text(json.dumps(_records()))
    now = DAY1 + 3 * HOUR + dt.timedelta(hours=24)
    cfg = Config(
        start_time=DAY1, tmp_dir=str(tmp_path / "tmp"), partitioned_export=partitioned
    ).validate(now)
    db = make_database(spark, cfg, str(tmp_path / "wh"))
    svc = HauserService(
        spark,
        cfg,
        LocalFixtureClient(spark, str(fixture)),
        LocalStorage(str(tmp_path / "storage")),
        db,
        get_now=lambda: now,
    )
    pending = set(crash_after_load)
    load = db.load_to_warehouse

    def crashing_load(csv_path, schema, bundle_start=None):
        load(csv_path, schema, bundle_start=bundle_start)
        if bundle_start in pending:
            pending.discard(bundle_start)
            raise _Crash(bundle_start)

    db.load_to_warehouse = crashing_load
    return svc


def _loaded(db):
    return sorted((r.EventStart, r.UserId) for r in db.export_df().collect())


def _expected():
    return sorted(
        (dt.datetime.strptime(r["EventStart"], "%Y-%m-%dT%H:%M:%SZ"), r["UserId"])
        for r in _records()
    )


def test_service_run_end_to_end_row_grain(spark, tmp_path):
    svc = _service(spark, tmp_path, partitioned=False)
    assert type(svc.database) is SparkWarehouseDatabase
    assert svc.run(max_bundles=10, sleep=lambda _s: None) == 3
    assert _loaded(svc.database) == _expected()
    cv = svc.database.export_df().select("CustomVars").distinct().collect()
    assert sorted(r[0] for r in cv) == [
        '{"user_plan_str":"p0"}', '{"user_plan_str":"p1"}', '{"user_plan_str":"p2"}',
    ]
    assert svc.database.last_sync_point(repair=False) == DAY1 + 3 * HOUR


def test_run_logs_each_backoff_retry(spark, tmp_path, caplog):
    """Every retry of ``run``'s backoff loop logs one warning with the
    exception, the backoff step and the sleep."""
    svc = _service(spark, tmp_path, partitioned=False)
    create, failures = svc.client.create_export, []

    def flaky_create(*args):
        if len(failures) < 2:
            failures.append(ConnectionError(f"transient {len(failures)}"))
            raise failures[-1]
        return create(*args)

    svc.client.create_export = flaky_create
    sleeps = []
    with caplog.at_level(logging.WARNING, logger="hauser_spark.service"):
        assert svc.run(max_bundles=10, sleep=sleeps.append) == 3
    warnings = [r for r in caplog.records if r.name == "hauser_spark.service"]
    assert len(warnings) == 2
    backoff = svc.config.backoff.total_seconds()
    assert sleeps == [backoff, 2 * backoff]
    for step, (rec, exc) in enumerate(zip(warnings, failures)):
        assert rec.levelno == logging.WARNING
        assert rec.exc_info[1] is exc
        assert rec.args == (step, sleeps[step])
    assert _loaded(svc.database) == _expected()


@pytest.mark.parametrize("partitioned", [False, True], ids=["row_grain", "partitioned"])
def test_crash_after_first_load_is_exactly_once(spark, tmp_path, partitioned):
    """While nothing is checkpointed the repair runs against StartTime, so
    a crash after the very first load does not load that window twice."""
    svc = _service(spark, tmp_path, partitioned, crash_after_load={DAY1})
    assert svc.run(max_bundles=10, sleep=lambda _s: None) == 3
    assert _loaded(svc.database) == _expected()


@pytest.mark.parametrize("partitioned", [False, True], ids=["row_grain", "partitioned"])
def test_crash_between_rewrite_renames(spark, tmp_path, monkeypatch, partitioned):
    """A crash between the two renames of a repair's table rewrite leaves
    only ``.old-*``; opening the warehouse again restores it."""
    svc = _service(spark, tmp_path, partitioned, crash_after_load={DAY1 + HOUR})
    svc.init()
    svc.process_next()
    with pytest.raises(_Crash):
        svc.process_next()
    # the next repair rewrites the export table (row-grain) or the sync
    # table (partitioned); fail its second rename
    real_rename, calls = os.rename, []

    def failing_rename(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("injected crash between renames")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected"):
        svc.process_next()
    monkeypatch.setattr(os, "rename", real_rename)

    fresh = _service(spark, tmp_path, partitioned)
    db = fresh.database
    # every row loaded before the crash, and the checkpoint, are back
    assert len(_loaded(db)) == 6
    assert db.last_sync_point(repair=False) == DAY1 + HOUR
    assert not [e for e in os.listdir(db.dir) if ".tmp-" in e or ".old-" in e]
    assert fresh.run(max_bundles=10, sleep=lambda _s: None) >= 2
    assert _loaded(db) == _expected()


def test_service_end_to_end_partitioned(spark, tmp_path):
    """Golden harness case with the partitioned database: group-by-day
    bundles (every load is first-of-day truncate), byte-identical CSVs."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from test_parity_golden import (
        NOW,
        REF,
        START,
        RecordingStorage,
        _assert_golden,
    )

    cfg = Config(
        group_files_by_day=True,
        start_time=START,
        tmp_dir=str(tmp_path / "t"),
        partitioned_export=True,
    ).validate(NOW)
    db = make_database(spark, cfg, str(tmp_path / "wh"))
    assert isinstance(db, PartitionedSparkWarehouseDatabase)
    storage = RecordingStorage(str(tmp_path / "storage"))
    svc = HauserService(
        spark=spark,
        config=cfg,
        client=LocalFixtureClient(spark, f"{REF}/raw.json"),
        storage=storage,
        database=db,
        get_now=lambda: NOW,
    )
    svc.init()
    bundles = 0
    while True:
        r = svc.process_next()
        if not r.processed:
            break
        bundles += 1
        assert bundles < 20
    assert bundles == 5
    _assert_golden(storage, f"{REF}/groupByDay")
    # one partition dir per day that had events
    parts = sorted(
        e for e in os.listdir(db.export_path) if e.startswith(f"{PARTITION_COL}=")
    )
    assert len(parts) >= 4
    # watermark survives a fresh database object (durable metadata)
    db2 = PartitionedSparkWarehouseDatabase(spark, str(tmp_path / "wh"))
    assert db2.last_sync_point() is not None
