"""The ``etl_hourly_catchup`` workload: a backfill of mature hourly bundles
through ``HauserService.run`` on the row-grain warehouse, with seeded
crash-after-load faults recovered by the delete-past-watermark repair.

One client, closed loop: the service processes the next bundle only after
the previous one committed. Timing and the fault injection live in
wrappers set on the service's own objects; the program sees only the
generated fixture.
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import io
import json
import os
import random
import time
from collections import defaultdict

import gen
from spans import Tracer

from hauser_spark.config import Config
from hauser_spark.schema import TIME
from hauser_spark.service import HauserService, ProcessResult, make_database
from hauser_spark.sinks.storage import LocalStorage
from hauser_spark.sources.export_client import LocalFixtureClient

UTC = dt.timezone.utc
HOUR = dt.timedelta(hours=1)
BACKLOG_START = dt.datetime(2024, 3, 4, tzinfo=UTC)
BACKLOG_HOURS = 72
WARMUP_START = dt.datetime(2024, 2, 5, tzinfo=UTC)
WARMUP_HOURS = 3
CUSTOM_PREFIXES = ("user_", "evt_", "page_")
# The timed catch-up is a fixed number of bundles, so both sides of a
# comparison do the same work: about --seconds of it on a 4-core host, and
# at least four bundles, so the first day's crash (hour 1 to 3) is in it.
BUNDLES_PER_SECOND = 0.4


class InjectedCrash(RuntimeError):
    """Raised after a committed load, before the sync point is saved."""


def crash_windows(seed: int, start: dt.datetime, hours: int) -> set[dt.datetime]:
    """One crash per simulated day, at a seeded hour early in the day so
    that every timed catch-up meets the same number of them.

    Hour 0 of the backlog is left out on purpose: the program loads that
    window twice after such a crash. ``last_sync_point`` skips the W5
    repair while the sync table is empty, so the orphan rows stay and the
    retry adds them again. A crash at hour 0 of the first day makes every
    run fail its export-table check."""
    rng = random.Random(seed * 7919 + 1)
    return {
        start + dt.timedelta(days=d, hours=rng.randint(1, 3))
        for d in range((hours + 23) // 24)
    }


class Harness:
    """A service over one fixture, with the benchmark's wrappers installed."""

    def __init__(self, spark, base, records, start, hours, crashes, tracer=None):
        self.records = records
        self.start = start
        now = start + hours * HOUR + dt.timedelta(hours=24)
        os.makedirs(base)
        fixture = os.path.join(base, "raw.json")
        gen.write_fixture(fixture, records)
        config = Config(
            export_duration=HOUR, start_time=start, tmp_dir=os.path.join(base, "tmp")
        ).validate(now=now)
        self.client = LocalFixtureClient(spark, fixture)
        self.storage = LocalStorage(os.path.join(base, "storage"))
        self.db = make_database(spark, config, os.path.join(base, "warehouse"))
        self.svc = HauserService(
            spark, config, self.client, self.storage, self.db, get_now=lambda: now
        )
        self.keep_dir = os.path.join(base, "staged")
        os.makedirs(self.keep_dir)
        self.crashes = set(crashes)
        self.crashed_last = False
        self.calls: list[tuple[float, bool]] = []  # (seconds, succeeded)
        self.bundles: list[ProcessResult] = []
        self.staged: list[str] = []
        self.tracer = tracer
        self.job_counts = [0, 0, 0]
        self._wrapped: list[tuple[object, str]] = []
        self._patched: list[tuple[object, str, object]] = []
        if tracer is not None:
            self._install_tracing(tracer)
        self._install_harness()

    def _install_tracing(self, tr: Tracer) -> None:
        import hauser_spark.service as service_mod

        def wrap(obj, attr, name):
            tr.wrap_method(obj, attr, name)
            self._wrapped.append((obj, attr))

        wrap(
            self.db,
            "last_sync_point",
            lambda: "warehouse.repair" if self.crashed_last else "warehouse.sync_read",
        )
        wrap(self.db, "load_to_warehouse", "warehouse.load")
        wrap(self.db, "save_sync_point", "warehouse.sync_append")
        wrap(self.svc, "init", "warehouse.init")
        wrap(self.client, "create_export", "export.create")
        wrap(self.client, "get_export", "export.get")
        wrap(self.storage, "save_file", "storage.put")
        wrap(self.storage, "delete_file", "storage.delete")
        wrap(self.svc, "process_next", "service.process_next")
        for attr, name in (
            ("build_parity_projection", "transform.build"),
            ("write_bundle_csv_exact", "csv.write"),
        ):
            fn = getattr(service_mod, attr)
            self._patched.append((service_mod, attr, fn))
            setattr(service_mod, attr, tr.traced(fn, name))

    def restore(self) -> None:
        """Take every wrapper and patch off again."""
        for mod, attr, fn in self._patched:
            setattr(mod, attr, fn)
        for obj, attr in self._wrapped:
            vars(obj).pop(attr, None)

    def _install_harness(self) -> None:
        load = self.db.load_to_warehouse
        save_file = self.storage.save_file
        process_next = self.svc.process_next

        def crashing_load(csv_path, schema, bundle_start=None):
            load(csv_path, schema, bundle_start=bundle_start)
            if bundle_start in self.crashes:
                self.crashes.discard(bundle_start)
                raise InjectedCrash(f"crash after load of {bundle_start}")

        def keeping_save_file(name, src_path):
            ref = save_file(name, src_path)
            keep = os.path.join(self.keep_dir, f"{len(self.staged):05d}-{name}")
            os.link(ref, keep)  # O(1); the staged file is deleted after load
            self.staged.append(keep)
            return ref

        def timed_process_next():
            tr = self.tracer
            if tr is not None:
                tr.trace_id = f"bundle-{len(self.bundles)}"
                group = f"call-{len(self.calls)}"
                tr.set_job_group(group)
            ok = False
            t0 = time.perf_counter()
            try:
                result = process_next()
                ok = True
            finally:
                self.calls.append((time.perf_counter() - t0, ok))
                self.crashed_last = not ok
                if tr is not None:
                    tr.clear_job_group()
                    for i, n in enumerate(tr.job_counts(group)):
                        self.job_counts[i] += n
            if result.processed:
                self.bundles.append(result)
            return result

        self.db.load_to_warehouse = crashing_load
        self.storage.save_file = keeping_save_file
        self.svc.process_next = timed_process_next
        self._wrapped += [
            (self.db, "load_to_warehouse"),
            (self.storage, "save_file"),
            (self.svc, "process_next"),
        ]

    def catch_up(self, bundles: int) -> float:
        """``HauserService.run(max_bundles=bundles)`` with a no-op sleep;
        returns its wall time."""
        t0 = time.perf_counter()
        self.svc.run(max_bundles=bundles, sleep=lambda _s: None)
        return time.perf_counter() - t0

    def retries(self) -> int:
        return sum(1 for _s, ok in self.calls if not ok)

    def bundle_latencies(self) -> list[float]:
        """Wall seconds per bundle: a bundle's failed attempts count toward
        the attempt that finally loaded it."""
        out, pending = [], 0.0
        for secs, ok in self.calls:
            pending += secs
            if ok:
                out.append(pending)
                pending = 0.0
        return out


def warm_up(spark, base: str, seed: int) -> None:
    """A short catch-up with one injected crash on a disjoint warehouse, so
    the timed run meets a warm JVM (codegen, class loading, py4j paths)."""
    records = gen.hourly_backlog(seed + 100_003, WARMUP_START, WARMUP_HOURS)
    h = Harness(
        spark, base, records, WARMUP_START, WARMUP_HOURS, {WARMUP_START + HOUR}
    )
    h.catch_up(WARMUP_HOURS)
    if len(h.bundles) != WARMUP_HOURS:
        raise RuntimeError(f"warm-up loaded {len(h.bundles)} bundles")


# ---------------------------------------------------------------- checks


def _micros(t: dt.datetime) -> int:
    return (t - dt.datetime(1970, 1, 1, tzinfo=UTC)) // dt.timedelta(microseconds=1)


def _parse_time(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00"))


def _custom_vars(rec: dict) -> str:
    return json.dumps(
        {k: v for k, v in rec.items() if k.startswith(CUSTOM_PREFIXES)},
        sort_keys=True,
    )


def expected_row(rec: dict, schema) -> tuple:
    """The warehouse row a record must become: strings lose CR/LF (the
    sink's newline scrub) and empty loads as null; custom vars become one
    JSON object."""
    out = []
    for f in schema:
        if f.db_name == "CustomVars":
            out.append(_custom_vars(rec))
            continue
        v = rec.get(f.fs_field_name) if f.fs_field_name else None
        if v is None:
            out.append(None)
        elif f.field_type == TIME:
            out.append(_micros(_parse_time(v)))
        elif f.field_type in ("int64", "int32"):
            out.append(int(v))
        elif f.field_type == "float64":
            out.append(float(v))
        else:
            s = str(v).replace("\r", " ").replace("\n", " ")
            out.append(s if s != "" else None)
    return tuple(out)


def parse_csv_row(row: list[str], schema) -> tuple:
    """A staged CSV row read back into the same typed shape."""
    out = []
    for text, f in zip(row, schema):
        if f.db_name == "CustomVars":
            pairs = json.loads(text, object_pairs_hook=list)
            keys = [k for k, _ in pairs]
            if keys != sorted(keys):
                raise ValueError(f"CustomVars keys not sorted: {keys}")
            out.append(json.dumps(dict(pairs), sort_keys=True))
        elif text == "":
            out.append(None)
        elif f.field_type == TIME:
            out.append(_micros(_parse_time(text)))
        elif f.field_type in ("int64", "int32"):
            out.append(int(text))
        elif f.field_type == "float64":
            out.append(float(text))
        else:
            out.append(text)
    return tuple(out)


def check(h: Harness, problems: list[str]) -> int:
    """Untimed correctness checks of one catch-up. Appends a description
    of each failure to ``problems``, sets ``h.csv_digest`` (SHA-256 of the
    final staged CSV bytes, in bundle order) and returns the number of
    bundles that failed."""
    from pyspark.sql import functions as F

    schema = h.svc.schema
    names = schema.db_names()
    failed: set[int] = set()

    # the watermark only rises, one window at a time, and ends at the last
    # loaded window
    ends = [b.bundle_end for b in h.bundles]
    for i, b in enumerate(h.bundles):
        want = h.start + i * HOUR
        if b.bundle_start != want or b.bundle_end != want + HOUR:
            failed.add(i)
            problems.append(f"bundle {i} window {b.bundle_start}..{b.bundle_end}")
    sync = sorted(
        r[0].replace(tzinfo=UTC)
        for r in h.db.read_sync_table().select("BundleEndTime").distinct().collect()
    )
    if sync != ends:
        problems.append(f"sync table ends {sync[-3:]} != loaded ends {ends[-3:]}")
    if ends and h.db.last_sync_point(repair=False) != ends[-1]:
        problems.append("watermark is not the last window end")

    # the export table holds each generated record of the loaded windows
    # exactly once
    by_window: dict[int, list[dict]] = {}
    for rec in h.records:
        k = (_parse_time(rec["EventStart"]) - h.start) // HOUR
        by_window.setdefault(k, []).append(rec)
    cols = [
        F.unix_micros(F.col(f.db_name)).alias(f.db_name) if f.field_type == TIME
        else F.col(f.db_name)
        for f in schema
    ]
    actual: dict[int, list[tuple]] = {}
    es = names.index("EventStart")
    cv = names.index("CustomVars")
    for r in h.db.export_df().select(cols).collect():
        t = list(r)
        try:
            t[cv] = json.dumps(json.loads(t[cv]), sort_keys=True)
        except (TypeError, ValueError):
            pass  # left as loaded, so it mismatches below
        k = (t[es] - _micros(h.start)) // (3600 * 10**6)
        actual.setdefault(k, []).append(tuple(t))
    for k in set(actual) | set(range(len(h.bundles))):
        want = sorted(map(repr, (expected_row(r, schema) for r in by_window.get(k, []))))
        got = sorted(map(repr, actual.get(k, [])))
        if want != got:
            failed.add(k)
            problems.append(
                f"export table window {k}: {len(got)} rows, expected {len(want)}"
                if len(got) != len(want)
                else f"export table window {k}: rows differ from the generated records"
            )

    # the loaded windows hold every edge case, so the checks below see each
    missing = set(gen.EDGE_STRINGS) - {
        rec.get(f)
        for k in range(len(h.bundles))
        for rec in by_window.get(k, [])
        for f in gen.EDGE_FIELDS
    }
    if missing:
        problems.append(f"no loaded record holds the edge cases {sorted(missing)}")

    # each staged CSV parses back to its window's records, in EventStart
    # order; a retried bundle stages the same bytes again
    digest = hashlib.sha256()
    final: dict[str, bytes] = {}
    for path in h.staged:
        name = os.path.basename(path).split("-", 1)[1]
        with open(path, "rb") as f:
            data = f.read()
        if name in final and final[name] != data:
            problems.append(f"retried bundle {name} staged different bytes")
        final[name] = data
    for i, name in enumerate(sorted(final, key=lambda n: int(n.split(".")[0]))):
        data = final[name]
        digest.update(data)
        rows = list(csv.reader(io.StringIO(data.decode("utf-8"), newline="")))
        recs = sorted(by_window.get(i, []), key=lambda r: _parse_time(r["EventStart"]))
        try:
            ok = rows[0] == names and [parse_csv_row(r, schema) for r in rows[1:]] == [
                expected_row(r, schema) for r in recs
            ]
        except ValueError as e:
            ok = False
            problems.append(f"CSV {name}: {e}")
        if not ok:
            failed.add(i)
            problems.append(f"CSV {name} does not parse back to window {i}")
    if len(final) != len(h.bundles):
        problems.append(f"{len(final)} staged CSVs for {len(h.bundles)} bundles")
    h.csv_digest = digest.hexdigest()
    return len(failed)


# ---------------------------------------------------------------- workload


def run(spark, base: str, seed: int, seconds: float, trace: bool, marks):
    """Run the workload; ``marks`` is told when set-up and timing end.
    Returns (result dict, per-layer dict, tracer)."""
    warm_up(spark, os.path.join(base, "warmup"), seed)
    records = gen.hourly_backlog(seed, BACKLOG_START, BACKLOG_HOURS)
    crashes = crash_windows(seed, BACKLOG_START, BACKLOG_HOURS)
    tracer = Tracer(spark.sparkContext) if trace else None
    h = Harness(
        spark, os.path.join(base, "timed"), records, BACKLOG_START, BACKLOG_HOURS,
        crashes, tracer,
    )
    setup_s = marks.setup_done()

    problems: list[str] = []
    escaped = 0
    t0 = time.perf_counter()
    try:
        wall = h.catch_up(max(4, round(seconds * BUNDLES_PER_SECOND)))
    except Exception as e:  # an exception escaping run() is a failure
        wall = time.perf_counter() - t0
        escaped = 1
        problems.append(f"run() raised {type(e).__name__}: {e}")
    marks.timed_done()
    h.restore()
    layers = layer_metrics(h, tracer) if tracer is not None else {}

    failed = check(h, problems) + escaped
    if problems and not failed:
        failed = 1
    n_records = h.db.export_df().count()
    out = {
        "setup_s": setup_s,
        "latencies_s": h.bundle_latencies(),
        "ops": len(h.bundles),
        "wall_s": wall,
        "attempted": len(h.bundles) + escaped,
        "failed": failed,
        "problems": problems,
        "extra": {
            "records": n_records,
            "records_per_s": n_records / wall,
            "retries": h.retries(),
            "crash_windows": sorted(str(c) for c in crashes),
            "csv_sha256": h.csv_digest,
            "backlog_hours": BACKLOG_HOURS,
            "backlog_records": len(records),
        },
    }
    return out, layers, tracer


def layer_metrics(h: Harness, tr: Tracer) -> dict:
    """Per-bundle means of each layer's time, plus the layer counts, and
    the share of the measured ``process_next`` wall time that the named
    child spans cover (the rest is ``service.self_ms``)."""
    n = max(len(h.bundles), 1)
    selfs = tr.self_times()
    total: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)
    pn_self = children = 0.0
    for i, s in enumerate(tr.spans):
        d = s["end"] - s["start"]
        total[s["name"]] += d
        calls[s["name"]] += 1
        if s["name"] == "service.process_next":
            pn_self += selfs[i]
        elif s["parent"] is not None and tr.spans[s["parent"]]["name"] == "service.process_next":
            children += d
    wall = sum(secs for secs, _ok in h.calls)

    def per_bundle_ms(name):
        return total[name] * 1000 / n

    table_bytes = files = 0
    for root, _dirs, fs in os.walk(h.db.export_path):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                table_bytes += os.path.getsize(os.path.join(root, f))
    csv_bytes = csv_rows = 0
    for p in h.staged:
        with open(p, "rb") as f:
            data = f.read()
        csv_bytes += len(data)
        csv_rows += data.count(b"\n") - 1  # no raw newlines inside fields
    n_rec = max(sum(b.record_count for b in h.bundles), 1)
    return {
        "warehouse.sync_read_ms": per_bundle_ms("warehouse.sync_read"),
        "warehouse.load_ms": per_bundle_ms("warehouse.load"),
        "warehouse.sync_append_ms": per_bundle_ms("warehouse.sync_append"),
        "warehouse.init_ms": total["warehouse.init"] * 1000,
        "warehouse.export_files": files,
        "warehouse.bytes_per_record": table_bytes / n_rec,
        "warehouse.repair_ms": total["warehouse.repair"] * 1000
        / max(calls["warehouse.repair"], 1),
        "service.self_ms": pn_self * 1000 / n,
        "service.retries": h.retries(),
        "spark.jobs_per_bundle": h.job_counts[0] / n,
        "spark.stages_per_bundle": h.job_counts[1] / n,
        "spark.tasks_per_bundle": h.job_counts[2] / n,
        "export.create_ms": per_bundle_ms("export.create"),
        "export.get_ms": per_bundle_ms("export.get"),
        "transform.build_ms": per_bundle_ms("transform.build"),
        "csv.write_ms": per_bundle_ms("csv.write"),
        "csv.bytes_per_record": csv_bytes / max(csv_rows, 1),
        "storage.put_ms": per_bundle_ms("storage.put"),
        "storage.delete_ms": per_bundle_ms("storage.delete"),
        "trace.child_share": children / wall if wall else 0.0,
    }
