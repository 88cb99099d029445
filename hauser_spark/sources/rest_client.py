"""REST export client — the real-API counterpart of LocalFixtureClient.

Re-expresses the reference's HTTP client surface with the stdlib only:

- API-key transport: every API request carries ``Authorization: Basic
  <token>`` plus configured extra headers (client/transport.go:20-30,
  client/client.go:105-120).
- Async export flow (client/export.go:50-134, client/operations.go:40-59):
  POST ``{api}/segments/v1/exports`` → operationId; GET
  ``{api}/operations/v1/{op}`` until COMPLETED (FAILED raises
  ExportError with the server's details); GET
  ``{api}/search/v1/exports/{id}/results`` → a signed ``location`` URL
  fetched *without* auth (auth is baked into the URL — export.go:120-122);
  the stream is gzipped JSON (internal/service.go:323-326).
- Error contract: non-200 responses raise StatusError carrying the
  integer ``Retry-After`` header (client/client.go:95-130), which
  ``retry.get_retry_info`` maps to the reference's retry policy
  (429/5xx retry, other 4xx fail fast).

The Spark engine only sees the decoded record list — the HTTP machinery
is driver-side source-connector code, exactly as in the reference where
the export API sits outside the compute engine.
"""

from __future__ import annotations

import datetime as dt
import gzip
import io
import json
import urllib.error
import urllib.request

from pyspark.sql import DataFrame, SparkSession

from .export_client import records_to_dataframe
from .retry import AsyncExportJob, StatusError, parse_retry_after


class ExportError(Exception):
    """client/export.go:12-18 — the server-side export FAILED."""

    def __init__(self, details: str):
        super().__init__(f"failed to complete export: {details}")
        self.details = details


def _rfc3339(t: dt.datetime) -> str:
    """RFC3339 UTC seconds precision (export.go:59-61)."""
    return t.astimezone(dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


class HttpExportTransport:
    """ExportTransport over urllib: create → poll → fetch."""

    def __init__(
        self,
        api_url: str,
        api_token: str,
        segment_id: str = "everyone",
        extra_headers: dict[str, str] | None = None,
        opener=None,
    ):
        self.api_url = api_url.rstrip("/")
        self.api_token = api_token
        self.segment_id = segment_id
        self.extra_headers = dict(extra_headers or {})
        self._opener = opener or urllib.request.urlopen

    # -- plumbing ---------------------------------------------------------

    def _request(self, url: str, body: bytes | None = None, auth=True):
        req = urllib.request.Request(url, data=body)
        if body is not None:
            req.add_header("Content-Type", "application/json")
        if auth:
            # client/transport.go:27 — Basic + raw key
            req.add_header("Authorization", "Basic " + self.api_token)
            for k, v in self.extra_headers.items():
                req.add_header(k, v)
        try:
            resp = self._opener(req)
        except urllib.error.HTTPError as e:
            raise StatusError(
                status=str(e.reason),
                status_code=e.code,
                retry_after=parse_retry_after(e.headers or {}),
                body=e.read().decode("utf-8", "replace") if e.fp else "",
            ) from None
        return resp

    def _json(self, url: str, body: bytes | None = None) -> dict:
        with self._request(url, body) as resp:
            return json.load(resp)

    # -- ExportTransport --------------------------------------------------

    def create_export(self, start, end, fields) -> str:
        params = {
            "segmentId": self.segment_id,
            "type": "TYPE_EVENT",
            "format": "FORMAT_JSON",
            # empty segment time range = "All Time" (export.go:55-56)
            "segmentTimeRange": {"start": "", "end": ""},
            "timeRange": {"start": _rfc3339(start), "end": _rfc3339(end)},
            "fields": list(fields),
        }
        out = self._json(
            f"{self.api_url}/segments/v1/exports",
            json.dumps(params).encode(),
        )
        return out["operationId"]

    def get_progress(self, operation_id: str) -> tuple[int, str | None]:
        out = self._json(f"{self.api_url}/operations/v1/{operation_id}")
        if out.get("type") != "SEARCH_EXPORT":
            raise ExportError("operation id does not correspond to an export")
        pct = int(out.get("estimatePctComplete", 0))
        state = out.get("state")
        if state == "FAILED":
            # operations.go:33-37
            raise ExportError(out.get("errorDetails", ""))
        if state == "COMPLETED":
            return pct, out["results"]["searchExportId"]
        return pct, None

    def fetch(self, export_id: str) -> list[dict]:
        out = self._json(
            f"{self.api_url}/search/v1/exports/{export_id}/results"
        )
        # the signed location URL carries its own auth (export.go:120-122)
        with self._request(out["location"], auth=False) as resp:
            raw = resp.read()
        if raw[:2] == b"\x1f\x8b":  # gzip magic (service.go:323)
            raw = gzip.GzipFile(fileobj=io.BytesIO(raw)).read()
        return json.loads(raw.decode("utf-8"))


class RestExportClient:
    """DataExportClient over the async REST API.

    ``create_export`` starts the server-side job and returns its
    operation id; ``get_export``/``get_export_records`` drive the poll
    loop to completion (AsyncExportJob — sleeps between polls, tests
    inject a no-op sleep) and decode the gzipped JSON stream with the
    same explicit-schema rules as the fixture client."""

    def __init__(
        self,
        spark: SparkSession,
        transport: HttpExportTransport,
        sleep=None,
    ):
        self.spark = spark
        self.transport = transport
        kwargs = {} if sleep is None else {"sleep": sleep}
        self._job = AsyncExportJob(transport=transport, **kwargs)
        self._records: dict[str, list[dict]] = {}

    def create_export(
        self, start: dt.datetime, end: dt.datetime, fields: list[str]
    ) -> str:
        return self.transport.create_export(start, end, fields)

    def _materialize(self, op_id: str) -> list[dict]:
        if op_id not in self._records:
            self._records[op_id] = self._job.wait(op_id)
        return self._records[op_id]

    def get_export_records(self, op_id: str) -> list[dict]:
        return self._materialize(op_id)

    def get_export(self, op_id: str) -> DataFrame:
        return records_to_dataframe(self.spark, self._materialize(op_id))
