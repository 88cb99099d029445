"""Export-source connectors.

The reference's source is an async REST export API (client/export.go:50-134):
create a server-side job for [start,end) + a field list, poll to completion,
stream the gzipped JSON array. In Spark that surface maps to: a predicate
``start <= EventStart < end`` pushed to the source, column pruning from the
field list, and ``spark.read.json`` doing the decode.

``LocalFixtureClient`` replays a raw.json-shaped fixture with the mock
client's exact semantics (testing/mockclient.go:34-101): stable sort by
EventStart, inclusive/exclusive window bounds, exact-name + wildcard-family
projection. It exists so the engine runs hermetically and so golden-file
tests reproduce the reference byte-for-byte.

Scale note: a real deployment points this at JSONL event files on object
storage — ``spark.read.schema(...).json(path)`` with partition-pruned date
paths; the fixture client's two-pass schema trick (infer once, then re-read
with custom keys as strings) applies unchanged.
"""

from __future__ import annotations

import datetime as dt
import fnmatch
import json
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import BASE_EXPORT_FIELDS, MOBILE_FIELDS, TIME

# Known field name → type tag, for building explicit read schemas.
_KNOWN_TYPES = {n: t for n, t in BASE_EXPORT_FIELDS + MOBILE_FIELDS}

_SPARK_READ_TYPES = {
    "int64": T.LongType(),
    "int32": T.IntegerType(),
    "float64": T.DoubleType(),
    "string": T.StringType(),
    TIME: T.TimestampType(),
}


class DataExportClient(Protocol):
    """client/client.go:30-44 — the pluggable export source."""

    def create_export(
        self, start: dt.datetime, end: dt.datetime, fields: list[str]
    ) -> str: ...

    def get_export(self, export_id: str) -> DataFrame: ...

    def get_export_records(self, export_id: str) -> list[dict]: ...


def _match_fields(keys: list[str], fields: list[str]) -> list[str]:
    """Mock projection semantics (testing/mockclient.go:66-94): exact names
    pass through; the three wildcard families prefix-match."""
    if not fields:
        return list(keys)
    out = []
    for k in keys:
        for f in fields:
            if f.endswith("*"):
                if k.startswith(f[:-1]):
                    out.append(k)
                    break
            elif k == f:
                out.append(k)
                break
    return out


def _parse_event_start(rec: dict) -> dt.datetime:
    s = rec["EventStart"]
    return dt.datetime.fromisoformat(str(s).replace("Z", "+00:00"))


#: F2 — SegmentId (client/export.go:52, config/config.go:17).  The export
#: request names a segment; the server restricts the export to that
#: segment's members.  ``everyone`` is the default and selects all data.
#: Locally a segment is a named membership predicate over the raw record.
EVERYONE_SEGMENT = "everyone"


class LocalFixtureClient:
    """Hermetic export source over a JSON-array fixture file.

    ``segment_id``/``segments`` model the server-side segment restriction
    (F2): records failing the named predicate never enter the export,
    mirroring how the real API filters before streaming results back.
    """

    def __init__(
        self,
        spark: SparkSession,
        fixture_path: str,
        segment_id: str = EVERYONE_SEGMENT,
        segments: dict | None = None,
    ):
        self.spark = spark
        with open(fixture_path) as f:
            data = json.load(f)
        # stable sort by EventStart (testing/mockclient.go:47-49)
        data.sort(key=_parse_event_start)
        self._data = data
        self._exports: dict[str, list[dict]] = {}
        self._next_id = 0
        if segment_id != EVERYONE_SEGMENT:
            if not segments or segment_id not in segments:
                raise KeyError(f"unknown segment id: {segment_id!r}")
            self._segment_pred = segments[segment_id]
        else:
            self._segment_pred = None  # everyone ⇒ no-op (config.go:167-169)

    def create_export(
        self, start: dt.datetime, end: dt.datetime, fields: list[str]
    ) -> str:
        """S1: segment restriction (F2, client/export.go:52) + window
        filter (inclusive start, exclusive end — testing/mockclient.go:60-62)
        + field projection."""
        selected: list[dict] = []
        for rec in self._data:
            if self._segment_pred is not None and not self._segment_pred(rec):
                continue
            t = _parse_event_start(rec)
            if start <= t < end:
                keep = _match_fields(list(rec.keys()), fields)
                selected.append({k: rec[k] for k in rec if k in set(keep)})
        export_id = f"export{self._next_id}"
        self._next_id += 1
        self._exports[export_id] = selected
        return export_id

    def get_export_records(self, export_id: str) -> list[dict]:
        """Raw records, already sorted/windowed/projected — used by the
        SaveAsJson pass-through mode (T9) which must store the marshaled
        array unmodified (internal/service.go:328-335)."""
        return self._exports[export_id]

    def get_export(self, export_id: str) -> DataFrame:
        """S3+S4: records → DataFrame (shared decode below)."""
        return records_to_dataframe(self.spark, self._exports[export_id])


def records_to_dataframe(spark: SparkSession, records: list[dict]) -> DataFrame:
    """S3+S4: records → DataFrame with an explicit schema — known fields
    typed, custom keys kept as strings so their JSON literal text survives
    (json.Number semantics, internal/service.go:184). ``_rec_idx``
    preserves arrival order as the stable-sort tiebreak."""
    keys: list[str] = []
    seen = set()
    for rec in records:
        for k in rec:
            if k not in seen:
                seen.add(k)
                keys.append(k)
    fields = []
    for k in sorted(keys):
        tag = _KNOWN_TYPES.get(k)
        fields.append(
            T.StructField(k, _SPARK_READ_TYPES.get(tag, T.StringType()))
        )
    read_schema = T.StructType(fields)
    if not records:
        empty = spark.createDataFrame([], read_schema)
        return empty.withColumn(
            "__hauser_rec_idx", F.monotonically_increasing_id()
        )
    # serialize each record to a JSONL line with literal preservation
    lines = [json.dumps(rec, separators=(",", ":")) for rec in records]
    df = spark.read.schema(read_schema).json(
        spark.sparkContext.parallelize(lines, 1)
    )
    return df.withColumn("__hauser_rec_idx", F.monotonically_increasing_id())
