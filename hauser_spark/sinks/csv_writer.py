"""Bundle CSV serialization (T8: internal/service.go:174-215).

``write_bundle_csv_exact`` writes byte-parity with Go ``encoding/csv`` for
the golden-file contract: header of DBNames, Go quoting rules, ``\\n`` line
endings, deterministic order. It streams ``toLocalIterator`` so driver
memory stays O(1 row) — the same constant-memory shape as the reference's
row-at-a-time writer; a bundle is one export window, not the full table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _go_csv_field(s: str) -> str:
    """Go csv.Writer.fieldNeedsQuotes + quote-doubling (encoding/csv)."""
    if s == "":
        return ""
    if (
        any(ch in s for ch in (",", '"', "\r", "\n"))
        or s[0] in (" ", "\t")
        or s == "\\."
    ):
        return '"' + s.replace('"', '""') + '"'
    return s


def write_bundle_csv_exact(df: DataFrame, path: str, header: list[str]) -> int:
    """Write a single ordered CSV file byte-compatible with the reference.

    ``df`` must already be sorted and string-typed (parity projection).
    Returns the record count (A4, internal/service.go:192,205,214).
    """
    count = 0
    with open(path, "wb") as f:
        f.write((",".join(_go_csv_field(h) for h in header) + "\n").encode())
        for row in df.toLocalIterator():
            line = ",".join(
                _go_csv_field("" if v is None else str(v)) for v in row
            )
            f.write((line + "\n").encode())
            count += 1
    return count
