"""Scalar conversion functions — Catalyst-expression equivalents of the
reference's per-sink ``ValueToStringFn`` (warehouse/warehouse.go:54-71,
warehouse/redshift.go:101-116).

Everything here returns Column expressions built from pyspark.sql.functions
only — no Python UDFs — so the whole transform stays inside whole-stage
codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Go's RFC3339Micro layout "2006-01-02T15:04:05.999999Z07:00" prints up to 6
# fractional digits with trailing zeros trimmed (and no '.' when zero).
_MICRO_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def format_rfc3339_micro(col: Column) -> Column:
    """Timestamp → Go RFC3339Micro text (warehouse/warehouse.go:54,61-64).

    ``2020-08-27T06:20:26.900000`` → ``2020-08-27T06:20:26.9Z``;
    whole seconds drop the fraction entirely. Session TZ is UTC so the
    offset is always 'Z'.
    """
    formatted = F.date_format(col, _MICRO_FMT)
    trimmed = F.regexp_replace(formatted, r"(\.\d*?)0+$", r"$1")
    trimmed = F.regexp_replace(trimmed, r"\.$", "")
    return F.concat(trimmed, F.lit("Z"))


def clean_string(col: Column) -> Column:
    """Newline/CR → space, NUL dropped (warehouse/warehouse.go:66-68)."""
    return F.regexp_replace(F.regexp_replace(col, r"[\n\r]", " "), "\x00", "")


def value_to_string(col: Column, is_time: bool) -> Column:
    """Default sink conversion (warehouse/warehouse.go:59-71): timestamps to
    RFC3339Micro; everything else cast to string with newline scrubbing.
    Null → empty string happens at projection (internal/service.go:113-116).
    """
    if is_time:
        return format_rfc3339_micro(col)
    return clean_string(col.cast("string"))


def redshift_value_to_string(col: Column, is_time: bool, varchar_max: int = 65535) -> Column:
    """Redshift-sink variant (warehouse/redshift.go:101-116): Go
    ``time.String()`` format and truncation to VarCharMax-1.

    Divergence note: Go truncates *bytes*; substring truncates *chars*.
    Identical for ASCII (the fixtures); documented in SURVEY §7 risks.
    """
    if is_time:
        out = F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSSSSS")
        out = F.regexp_replace(out, r"(\.\d*?)0+$", r"$1")
        out = F.regexp_replace(out, r"\.$", "")
        out = F.concat(out, F.lit(" +0000 UTC"))
    else:
        out = clean_string(col.cast("string"))
    return F.substring(out, 1, varchar_max - 1)


def money_sum(expr: Column, scale: int = 2) -> Column:
    """Order-independent, cross-engine-exact aggregate sum of a double
    expression: round each term to ``scale`` decimals, sum as exact
    integers, divide back. Plain double summation is not associative, so a
    distributed sum's last ~1e-8 depends on partition combine order — and
    can flip a rounded result between runs or engines. Per-term rounding
    is deterministic (same IEEE input → same long), and integer summation
    is order-free, so every engine agrees to the last cent."""
    unit = 10 ** scale
    return F.sum(F.round(expr * unit).cast("long")) / float(unit)


def stable_avg(expr: Column, scale: int = 6) -> Column:
    """Order-independent average: integer-scaled sum / count, rounded."""
    unit = 10 ** scale
    return F.round(
        (F.sum(F.round(expr * unit).cast("long")) / float(unit))
        / F.count(expr),
        scale,
    )


def money_sum_sql(expr: str, scale: int = 2) -> str:
    """The DuckDB-side twin of money_sum — keep the arithmetic identical."""
    unit = 10 ** scale
    return f"(SUM(CAST(ROUND(({expr}) * {unit}) AS BIGINT)) / {unit}.0)"


def stable_avg_sql(expr: str, scale: int = 6) -> str:
    unit = 10 ** scale
    return (
        f"ROUND((SUM(CAST(ROUND(({expr}) * {unit}) AS BIGINT)) / {unit}.0)"
        f" / COUNT({expr}), {scale})"
    )


#: Go ``encoding/json``'s default escapes beyond plain JSON: HTML-special
#: < > & and the JS-unsafe line/paragraph separators U+2028/U+2029.
GO_JSON_ESCAPES = (
    ("<", "\\u003c"),
    (">", "\\u003e"),
    ("&", "\\u0026"),
    ("\u2028", "\\u2028"),
    ("\u2029", "\\u2029"),
)


def go_json_escape(text: str) -> str:
    """Apply GO_JSON_ESCAPES to already-marshaled JSON text."""
    for raw, esc in GO_JSON_ESCAPES:
        text = text.replace(raw, esc)
    return text


def json_escape_string(col: Column) -> Column:
    """Produce a quoted JSON string literal with correct escaping, JVM-side:
    to_json(array(x)) = '["escaped"]' → strip the brackets. Then apply Go
    json.Marshal's default escapes (GO_JSON_ESCAPES)."""
    arr = F.to_json(F.array(col))
    quoted = F.regexp_replace(arr, r"^\[|\]$", "")
    for raw, esc in GO_JSON_ESCAPES:
        # a Java replacement string reads backslash as an escape
        quoted = F.regexp_replace(quoted, raw, esc.replace("\\", "\\\\"))
    return quoted
