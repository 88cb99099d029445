"""The warehouse Database surface on Spark-managed parquet tables.

Re-expresses warehouse/warehouse.go:37-52 (Database interface) and its
Redshift/BigQuery implementations with Spark-native storage:

- export table   — parquet; its schema is declared in a sidecar file, so
                   no read infers one (the analog of warehouse table
                   metadata)
- sync table     — tiny append-only parquet (warehouse/schema.go:91-95),
                   read with its fixed schema
- bulk load      — read staged CSV with the effective schema, append
                   (COPY analog, warehouse/redshift.go:241-246)
- schema evolution — append-only ADD COLUMN (warehouse/redshift.go:214-238)
                   as a sidecar update: parquet files written before it
                   read the new columns as null
- exactly-once repair — delete-past-watermark (W5,
                   warehouse/redshift.go:330-354); the day-partitioned
                   subclass swaps in partition-grain repair (W6)

Scale note: at 100 TB the export table would live in a transactional table
format (Delta/Iceberg) where DELETE WHERE and ADD COLUMNS are metadata ops;
this implementation keeps the same *interface and semantics* on plain
parquet (rewrite-on-delete). In the day-partitioned layout no repair ever
rewrites the export table.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import SYNC_TABLE_SPARK_SCHEMA, Schema

UTC = dt.timezone.utc

PARTITION_COL = "event_day"

# Underscore-prefixed ⇒ invisible to Spark's file listing.
_SIDECAR = "_table_schema.json"


class IncompatibleSchemaError(Exception):
    """Reference error: destination has columns the schema lacks, or a
    name mismatch at an index (warehouse/redshift.go:165-178)."""


class SparkWarehouseDatabase:
    """Database provider over a local/spark-accessible warehouse directory,
    row-grain layout (Redshift-style delete-past-watermark repair).

    One process writes a warehouse directory at a time: opening it finishes
    or undoes a table rewrite that a crash interrupted.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        export_table: str = "export",
        sync_table: str = "sync",
    ):
        self.spark = spark
        self.dir = warehouse_dir
        self.export_path = os.path.join(warehouse_dir, export_table)
        self.sync_path = os.path.join(warehouse_dir, sync_table)
        os.makedirs(warehouse_dir, exist_ok=True)
        for path in (self.export_path, self.sync_path):
            _recover_rewrite(path)
        os.makedirs(self.sync_path, exist_ok=True)

    # ---------- catalog scans (S7/S8) ----------

    def does_table_exist(self, path: str) -> bool:
        return os.path.exists(path) and bool(os.listdir(path))

    def get_export_table_columns(self) -> list[str]:
        """S8: column list in ordinal position order."""
        return self._table_schema().names

    def export_df(self) -> DataFrame:
        """The export table's rows, without any layout column."""
        return (
            self.spark.read.schema(self._table_schema())
            .parquet(self.export_path)
            .drop(PARTITION_COL)
        )

    def _table_schema(self) -> T.StructType:
        with open(os.path.join(self.export_path, _SIDECAR)) as f:
            return T.StructType.fromJson(json.load(f))

    def _write_table_schema(self, spark_schema: T.StructType) -> None:
        os.makedirs(self.export_path, exist_ok=True)
        path = os.path.join(self.export_path, _SIDECAR)
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            f.write(spark_schema.json())
        os.replace(tmp, path)

    def _has_rows(self) -> bool:
        """True once a load wrote data files (listing only, no Spark job)."""
        return os.path.isdir(self.export_path) and any(
            not e.startswith(("_", ".")) for e in os.listdir(self.export_path)
        )

    # ---------- DDL (K5/K6/K7) ----------

    def init_export_table(self, schema: Schema) -> bool:
        """K5: create if absent; returns True if it already existed
        (warehouse/redshift.go:195-212)."""
        if self.does_table_exist(self.export_path):
            self.ensure_partition_expiration()
            return True
        self._write_table_schema(schema.to_spark_schema())
        return False

    def apply_export_schema(self, schema: Schema) -> None:
        """K7: append-only evolution. Existing columns must be a
        case-insensitive prefix of the new schema; new columns are appended
        to the declared schema (ALTER TABLE ADD COLUMN analog), and rows
        loaded before read them as null."""
        table = self._table_schema()
        new_names = schema.db_names()
        if len(table.names) > len(new_names):
            raise IncompatibleSchemaError(
                f"table has more columns ({len(table.names)}) than schema "
                f"({len(new_names)})"
            )
        for i, col in enumerate(table.names):
            if col.lower() != new_names[i].lower():
                raise IncompatibleSchemaError(
                    f"column {i} mismatch: table={col!r} schema={new_names[i]!r}"
                )
        missing = schema.fields[len(table.names):]
        if missing:
            self._write_table_schema(
                T.StructType(
                    table.fields
                    + [T.StructField(f.db_name, f.spark_type()) for f in missing]
                )
            )

    # ---------- sync / watermark (S6, A1, W4, W5) ----------

    def read_sync_table(self) -> DataFrame:
        return self.spark.read.schema(SYNC_TABLE_SPARK_SCHEMA).parquet(self.sync_path)

    def last_sync_point(
        self, fallback: dt.datetime | None = None, repair: bool = True
    ) -> dt.datetime | None:
        """S6+A1: max(BundleEndTime), or ``fallback`` while nothing is
        checkpointed; then exactly-once repair against that watermark — if
        the export table holds rows at or past it (a load committed whose
        checkpoint didn't), ``_repair`` undoes them so the window re-loads
        exactly once (warehouse/redshift.go:296-354)."""
        t = self.read_sync_table().agg(F.max("BundleEndTime").alias("wm")).first()[
            "wm"
        ]
        t = fallback if t is None else t.replace(tzinfo=UTC)
        if t is not None and repair and self._has_rows():
            t = self._repair(t)
        return t

    def save_sync_point(self, bundle_end: dt.datetime, processed: dt.datetime) -> None:
        """W4/K8: append (-1, processed, bundleEnd)
        (warehouse/redshift.go:275-281)."""
        row = self.spark.createDataFrame(
            [(-1, processed.replace(tzinfo=None), bundle_end.replace(tzinfo=None))],
            SYNC_TABLE_SPARK_SCHEMA,
        )
        row.write.mode("append").parquet(self.sync_path)

    def _repair(self, watermark: dt.datetime) -> dt.datetime:
        """F4/W5: DELETE FROM export WHERE EventStart >= watermark
        (warehouse/redshift.go:284-294) — windows include their start, so a
        row stamped exactly at the watermark belongs to the unloaded
        window. Returns the watermark unchanged."""
        df = self.export_df()
        wm = F.lit(watermark.replace(tzinfo=None))
        if not df.filter(F.col("EventStart") >= wm).isEmpty():
            self._rewrite(
                df.filter((F.col("EventStart") < wm) | F.col("EventStart").isNull()),
                self.export_path,
            )
        return watermark

    # ---------- bulk load (K3/K4) ----------

    def load_to_warehouse(
        self, csv_path: str, schema: Schema, bundle_start: dt.datetime | None = None
    ) -> None:
        """K3: COPY analog — read the staged CSV with the effective schema
        (header skipped, empty ⇒ null for typed cols), align it to the
        table's columns (K4 AllowJaggedRows: columns the CSV lacks are
        null-filled) and write it."""
        typed = self._read_staged_csv(csv_path, schema)
        have = {c.lower() for c in typed.columns}
        aligned = typed.select(
            [
                (F.col(f.name) if f.name.lower() in have else F.lit(None))
                .cast(f.dataType)
                .alias(f.name)
                for f in self._table_schema().fields
            ]
        )
        self._write_load(aligned, bundle_start)

    def _write_load(self, df: DataFrame, bundle_start: dt.datetime | None) -> None:
        df.write.mode("append").parquet(self.export_path)

    # ---------- retention ----------

    def ensure_partition_expiration(self, now: dt.datetime | None = None) -> int:
        """Retention; the row-grain layout keeps every row. Returns the
        number of partitions dropped."""
        return 0

    # ---------- helpers ----------

    def _read_staged_csv(self, csv_path: str, schema: Schema) -> DataFrame:
        """COPY-analog read: staged CSV with the effective schema (header
        skipped, empty ⇒ null for typed cols), jagged-row null-fill."""
        read_schema = T.StructType(
            [T.StructField(f.db_name, T.StringType()) for f in schema]
        )
        raw = (
            self.spark.read.schema(read_schema)
            .option("header", True)
            .option("quote", '"')
            .option("escape", '"')
            .csv(csv_path)
        )
        return raw.select(
            [
                F.when(F.col(f.db_name) == "", None)
                .otherwise(F.col(f.db_name))
                .cast(f.spark_type())
                .alias(f.db_name)
                if f.field_type not in (None, "string")
                else F.col(f.db_name)
                for f in schema
            ]
        )

    def _rewrite(self, df: DataFrame, path: str) -> None:
        """Overwrite a table we are also reading from: stage to a temp
        sibling, then swap it in with two renames. A crash at any point
        leaves a state ``_recover_rewrite`` turns back into one table."""
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(os.path.join(path, _SIDECAR)):
            shutil.copy(os.path.join(path, _SIDECAR), tmp)
        old = f"{path}.old-{uuid.uuid4().hex[:8]}"
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)


def _recover_rewrite(path: str) -> None:
    """Undo or finish an interrupted ``_rewrite`` of ``path``. Between its
    two renames only ``path.old-*`` holds the table: put it back (the
    repair that was rewriting it runs again). Any ``.tmp-*`` (partial or
    never swapped in) and a ``.old-*`` left after the swap are garbage."""
    parent, name = os.path.split(path)
    leftovers = sorted(
        e for e in os.listdir(parent) if e.startswith((f"{name}.tmp-", f"{name}.old-"))
    )
    for entry in leftovers:
        if entry.startswith(f"{name}.old-") and not os.path.exists(path):
            os.rename(os.path.join(parent, entry), path)
    for entry in leftovers:
        full = os.path.join(parent, entry)
        if os.path.exists(full):
            shutil.rmtree(full)


class PartitionedSparkWarehouseDatabase(SparkWarehouseDatabase):
    """The BigQuery layout: export table day-partitioned on EventStart date
    (warehouse/bigquery.go:342-348), loads routed to the bundle's day
    partition (partition decorator ``$YYYYMMDD``, warehouse/bigquery.go:142),
    first-bundle-of-day loads truncating the partition
    (warehouse/bigquery.go:147-151), and partition-grain exactly-once repair
    (W6, warehouse/bigquery.go:93-102): on orphaned rows the watermark
    backtracks to the start of day and the next first-of-day load replaces
    the partition — no row-level deletes ever touch the export table.

    Scale rationale: this is the 100 TB path. Day partitioning means
    - bundle loads append only to one partition directory,
    - repair is a dynamic-partition-overwrite of exactly one day,
    - retention (PartitionExpiration, warehouse/bigquery.go:206-227) is a
      metadata-only directory drop,
    - downstream time-range queries partition-prune at the source.
    Dynamic partition overwrite (spark.sql.sources.partitionOverwriteMode=
    dynamic, set in session.py) makes the first-of-day WRITE_TRUNCATE
    replace only the partitions present in the incoming bundle.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        export_table: str = "export",
        sync_table: str = "sync",
        partition_expiration: dt.timedelta | None = None,
    ):
        super().__init__(spark, warehouse_dir, export_table, sync_table)
        self.partition_expiration = partition_expiration

    # ---------- W6 repair: partition-grain, no row deletes ----------

    def _repair(self, watermark: dt.datetime) -> dt.datetime:
        """W6 (warehouse/bigquery.go:59-105): if max(EventStart) in the
        export table is at or past the watermark, a load committed whose
        checkpoint didn't. Partitions aren't row-deleted: backtrack the
        watermark to the first instant of that day and delete sync rows past
        it (warehouse/bigquery.go:392-405); cleanup happens on the next load
        because the first bundle of the day truncates the partition."""
        export_time = self.export_df().agg(F.max("EventStart").alias("m")).first()["m"]
        if export_time is None or export_time.replace(tzinfo=UTC) < watermark:
            return watermark
        t = _truncate_day(watermark)
        kept = self.read_sync_table().filter(
            F.col("BundleEndTime") <= F.lit(t.replace(tzinfo=None))
        )
        self._rewrite(kept, self.sync_path)
        return t

    # ---------- partitioned bulk load (K4) ----------

    def _write_load(self, df: DataFrame, bundle_start: dt.datetime | None) -> None:
        """K4 (warehouse/bigquery.go:130-161): write into the bundle-start
        day's partition. First bundle of the day ⇒ dynamic partition
        overwrite (WRITE_TRUNCATE of that partition); otherwise append. The
        divides-24h window invariant guarantees a bundle never straddles
        partitions (config/config.go:183-187)."""
        first_of_day = bundle_start is not None and bundle_start == _truncate_day(
            bundle_start
        )
        mode = "overwrite" if first_of_day else "append"
        # per-write dynamic mode so a static-mode session can never truncate
        # the whole table on a first-of-day load
        df.withColumn(PARTITION_COL, F.to_date("EventStart")).write.mode(mode).option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(PARTITION_COL).parquet(self.export_path)

    # ---------- retention (PartitionExpiration) ----------

    def ensure_partition_expiration(self, now: dt.datetime | None = None) -> int:
        """BQ PartitionExpiration analog (warehouse/bigquery.go:206-227):
        drop day partitions entirely older than the retention horizon.
        Metadata-only — removes whole partition directories, never scans
        data. Returns the number of partitions dropped."""
        if self.partition_expiration is None:
            return 0
        now = now or dt.datetime.now(UTC)
        cutoff = _truncate_day(now - self.partition_expiration).date()
        dropped = 0
        if not os.path.isdir(self.export_path):
            return 0
        for entry in os.listdir(self.export_path):
            if not entry.startswith(f"{PARTITION_COL}="):
                continue
            try:
                day = dt.date.fromisoformat(entry.split("=", 1)[1])
            except ValueError:
                continue
            if day < cutoff:
                shutil.rmtree(os.path.join(self.export_path, entry))
                dropped += 1
        return dropped


def _truncate_day(t: dt.datetime) -> dt.datetime:
    """Go time.Truncate(24h) — epoch-aligned day floor, UTC."""
    return t.replace(hour=0, minute=0, second=0, microsecond=0)
