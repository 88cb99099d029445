"""Retry classification + async-export client machinery (W8/S1-S3).

Re-expresses the reference's HTTP error handling:
- StatusError with Retry-After (client/client.go:95-130)
- retry decision: 4xx (≠429) → don't retry; 429/5xx → retry, honoring
  Retry-After else a 10s default (internal/service.go:158-171, 27-30)
- the async job lifecycle: create → poll progress → fetch
  (client/export.go:50-134, poll loop internal/service.go:302-314)

The transport is injectable so the client runs hermetically; a production
deployment passes a real HTTP transport. Spark executors never retry API
calls — this is source-connector (driver) machinery, exactly as in the
reference where the export API sits outside the compute engine.
"""

from __future__ import annotations

import datetime as dt
import time
from dataclasses import dataclass, field
from typing import Callable, Protocol

DEFAULT_RETRY_AFTER = dt.timedelta(seconds=10)  # internal/service.go:27-30
PROGRESS_POLL_INTERVAL = dt.timedelta(seconds=5)  # internal/service.go:37


@dataclass
class StatusError(Exception):
    """client/client.go:32-46 analog."""

    status: str = ""
    status_code: int = 0
    retry_after: dt.timedelta = dt.timedelta(0)
    body: str = ""

    def __str__(self) -> str:
        return f"HTTP {self.status_code} {self.status}"


def get_retry_info(err: Exception) -> tuple[bool, dt.timedelta]:
    """internal/service.go:158-171: (should_retry, wait)."""
    if isinstance(err, StatusError):
        if err.status_code != 429 and err.status_code < 500:
            return False, DEFAULT_RETRY_AFTER
        if err.retry_after > dt.timedelta(0):
            return True, err.retry_after
    return True, DEFAULT_RETRY_AFTER


def parse_retry_after(headers) -> dt.timedelta:
    """client/client.go:115-130: integer seconds, absent/bad ⇒ 0.

    Go's ``resp.Header.Get`` is case-insensitive; accept any mapping
    (incl. ``email.message.Message``, whose ``get`` already is) and fold
    case for plain dicts so a server sending ``retry-after`` still
    backs off correctly."""
    raw = headers.get("Retry-After", "")
    if raw == "" and isinstance(headers, dict):
        raw = next(
            (v for k, v in headers.items() if k.lower() == "retry-after"),
            "",
        )
    try:
        return dt.timedelta(seconds=int(raw))
    except (TypeError, ValueError):
        return dt.timedelta(0)


class ExportTransport(Protocol):
    """The remote side of the async export API, injectable for tests."""

    def create_export(self, start, end, fields) -> str: ...

    def get_progress(self, operation_id: str) -> tuple[int, str | None]:
        """→ (percent_done, export_id or None if still running)."""
        ...

    def fetch(self, export_id: str): ...


@dataclass
class AsyncExportJob:
    """S1+S2: drive an async export to completion with polling.

    The poll loop (internal/service.go:302-314) sleeps
    ``PROGRESS_POLL_INTERVAL`` between progress checks; tests inject a
    no-op sleep. Transport errors propagate to the service loop where
    ``get_retry_info`` decides W8 retry behavior.
    """

    transport: ExportTransport
    sleep: Callable[[float], None] = field(default=time.sleep)
    poll_interval: dt.timedelta = PROGRESS_POLL_INTERVAL

    def run(self, start, end, fields) -> "object":
        return self.wait(self.transport.create_export(start, end, fields))

    def wait(self, op_id: str) -> "object":
        """Poll ``op_id`` until its export completes, then fetch it."""
        while True:
            _pct, export_id = self.transport.get_progress(op_id)
            if export_id is not None:
                return self.transport.fetch(export_id)
            self.sleep(self.poll_interval.total_seconds())
