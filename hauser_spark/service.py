"""The incremental export service — the reference's main loop on Spark.

Re-expresses internal/service.go: ``process_next`` is one bundle end-to-end
(watermark read → window computation → maturity gate → export → transform →
CSV → storage put → warehouse load → checkpoint), ``run`` is the
catch-up/steady-state trigger loop with exponential backoff.

Design stance (SURVEY §7): batch-first driver loop. Hauser's "stream" is a
poll-and-sleep loop around batch windows; Structured Streaming would add a
state store for no benefit — the sync table IS the checkpoint, and batch
windows give us deterministic, replayable, exactly-once bundle loads via
the repair path (W5/W6).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .config import Config
from .schema import Schema, make_schema
from .sinks.csv_writer import write_bundle_csv_exact
from .sinks.storage import LocalStorage
from .sinks.warehouse import SparkWarehouseDatabase
from .sources.export_client import DataExportClient
from .transform import build_parity_projection
from .windows import next_bundle_window, wait_duration

UTC = dt.timezone.utc


@dataclass
class ProcessResult:
    """Outcome of one process_next call."""

    processed: bool
    wait: dt.timedelta = dt.timedelta(0)
    bundle_start: dt.datetime | None = None
    bundle_end: dt.datetime | None = None
    record_count: int = 0


@dataclass
class HauserService:
    """NewHauserService analog (internal/service.go:53-67)."""

    spark: SparkSession
    config: Config
    client: DataExportClient
    storage: LocalStorage
    database: SparkWarehouseDatabase | None = None
    get_now: callable = field(
        default=lambda: dt.datetime.now(UTC)
    )  # injectable clock (internal/service.go:34-36)

    def __post_init__(self):
        self.schema: Schema = make_schema(self.config.include_mobile_apps_fields)
        os.makedirs(self.config.tmp_dir, exist_ok=True)

    # ---------- init (internal/service.go:247-266) ----------

    def init(self) -> None:
        if self.database is None:
            return
        existed = self.database.init_export_table(self.schema)
        if existed:
            cols = self.database.get_export_table_columns()
            # the reconciled schema replaces the compiled one
            # (internal/service.go:263) — it now defines CSV column order
            self.schema = self.schema.reconcile_with_existing(cols)
            self.database.apply_export_schema(self.schema)

    # ---------- checkpoint read (S5/S6 + StartTime fallback) ----------

    def last_sync_point(self) -> dt.datetime:
        """The checkpoint, or StartTime while nothing is checkpointed. The
        database repairs against whichever it returns, so a crash after the
        very first load is undone too."""
        start = self.config.start_time
        if self.database is not None:
            return self.database.last_sync_point(fallback=start)
        t = self.storage.last_sync_point()
        return start if t is None else t

    # ---------- one bundle (internal/service.go:269-360) ----------

    def process_next(self) -> ProcessResult:
        last = self.last_sync_point()
        start, end = next_bundle_window(last, self.config.export_duration)
        wait = wait_duration(end, self.get_now(), self.config.export_delay)
        if wait > dt.timedelta(0):
            return ProcessResult(processed=False, wait=wait)

        export_id = self.client.create_export(
            start, end, self.schema.get_fullstory_fields()
        )

        unix_start = int((start - dt.datetime(1970, 1, 1, tzinfo=UTC)).total_seconds())

        if self.config.save_as_json:
            # T9: store the marshaled export array unmodified
            # (internal/service.go:328-335)
            records = self.client.get_export_records(export_id)
            name = f"{self.config.file_prefix}{unix_start}.json"
            data = _go_json_marshal(records)
            self.storage.save_bytes(name, data)
            self.storage.save_sync_point(end)
            return ProcessResult(True, bundle_start=start, bundle_end=end)

        df = self.client.get_export(export_id)
        # stable order contract for golden parity (testing/mockclient.go:47-49)
        order_cols = ["__hauser_rec_idx"]
        if "EventStart" in df.columns:
            order_cols = ["EventStart", "__hauser_rec_idx"]
        projected = build_parity_projection(
            df.orderBy(*[F.col(c).asc() for c in order_cols]), self.schema
        )

        name = f"{self.config.file_prefix}{unix_start}.csv"
        tmp_csv = os.path.join(self.config.tmp_dir, name)
        count = write_bundle_csv_exact(projected, tmp_csv, self.schema.db_names())

        # K1/K2: storage put → (storage-only: checkpoint & stop) →
        # warehouse load → checkpoint → staged-file delete
        # (internal/service.go:121-156)
        # save_file returns the object reference (GetFileReference,
        # warehouse/s3.go:72-75) — the warehouse loads from that URI, so
        # the same code path serves local disk and object stores
        stored_ref = self.storage.save_file(name, tmp_csv)
        os.remove(tmp_csv)
        if self.database is None or self.config.storage_only:
            self.storage.save_sync_point(end)
        else:
            try:
                self.database.load_to_warehouse(
                    stored_ref,
                    self.schema,
                    bundle_start=start,
                )
                self.database.save_sync_point(end, self.get_now())
            finally:
                self.storage.delete_file(name)
        return ProcessResult(True, bundle_start=start, bundle_end=end, record_count=count)

    # ---------- the trigger loop (internal/service.go:362-378) ----------

    def run(self, max_bundles: int | None = None, sleep=time.sleep) -> int:
        """W3+W9: process until caught up (or max_bundles); on error,
        exponential backoff Backoff×2^step, fatal after BackoffStepsMax."""
        self.init()
        processed = 0
        step = 0
        while max_bundles is None or processed < max_bundles:
            try:
                result = self.process_next()
                step = 0
            except Exception:
                if step >= self.config.backoff_steps_max:
                    raise
                sleep(self.config.backoff.total_seconds() * (2**step))
                step += 1
                continue
            if not result.processed:
                if max_bundles is not None:
                    break  # caught up; bounded runs stop at the head
                sleep(result.wait.total_seconds())
                continue
            processed += 1
        return processed


def make_database(
    spark: SparkSession, config: Config, warehouse_dir: str
) -> SparkWarehouseDatabase:
    """Provider switch (core/core.go:18-51): row-grain (Redshift-style
    delete-past-watermark repair) vs day-partitioned (BigQuery-style
    partition-truncate repair + retention)."""
    if config.partitioned_export:
        from .sinks.warehouse import PartitionedSparkWarehouseDatabase

        return PartitionedSparkWarehouseDatabase(
            spark, warehouse_dir, partition_expiration=config.partition_expiration
        )
    return SparkWarehouseDatabase(spark, warehouse_dir)


def _go_json_marshal(records: list[dict]) -> bytes:
    """Go json.Marshal of []map[string]interface{}: sorted keys, compact
    separators, HTML escaping of < > & (encoding/json defaults)."""
    text = json.dumps(
        records, sort_keys=True, separators=(",", ":"), ensure_ascii=False
    )
    text = (
        text.replace("<", "\\u003c")
        .replace(">", "\\u003e")
        .replace("&", "\\u0026")
        .replace("\u2028", "\\u2028")
        .replace("\u2029", "\\u2029")
    )
    return text.encode()
