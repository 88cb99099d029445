"""The export-record transform as Catalyst expressions.

Re-expresses ``transformExportJSONRecord`` (internal/service.go:72-119):
one pass that (a) partitions record keys into known (schema) vs custom,
(b) pivots the custom keys into a single ``CustomVars`` JSON-object column
with sorted keys, (c) projects in effective-schema order with empty-string
null-fill, applying the per-sink scalar conversion.

Everything is built-in SQL functions — no Python UDFs — so the whole row
pipeline compiles into one WholeStageCodegen span over the scan. At 100 TB
this is a narrow map stage: no shuffle, no Python boundary.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions import go_json_escape, json_escape_string, value_to_string
from .schema import Schema

# Custom-var keys are self-typed by suffix convention (fixture data;
# wildcard families warehouse/schema.go:84-88). For string-typed custom
# columns these suffixes mark values that were JSON numbers/booleans and
# must be emitted unquoted with their literal text preserved
# (json.Number semantics, internal/service.go:184).
_RAW_SUFFIXES = ("_real", "_int", "_bool")


def partition_columns(
    source_cols: list[str], schema: Schema
) -> tuple[dict[str, str], list[str]]:
    """Single pass over source columns: known (lowercased fs name → source
    column) vs custom (internal/service.go:86-96). Case-insensitive."""
    schema_map = {
        f.fs_field_name.lower() for f in schema if f.fs_field_name
    }
    known: dict[str, str] = {}
    custom: list[str] = []
    for c in source_cols:
        if c.startswith("__hauser_"):
            continue  # engine-internal columns (e.g. stable-sort tiebreak)
        if c.lower() in schema_map:
            known[c.lower()] = c
        else:
            custom.append(c)
    return known, custom


def _custom_value_expr(df: DataFrame, name: str) -> Column:
    """JSON value text for one custom column, preserving JSON types."""
    dtype = df.schema[name].dataType
    col = F.col(f"`{name}`")
    if isinstance(dtype, (T.NumericType, T.BooleanType)):
        return col.cast("string")
    if isinstance(dtype, T.StringType) and name.lower().endswith(_RAW_SUFFIXES):
        # connector preserved the raw JSON literal text in a string column
        return col
    return json_escape_string(col)


def custom_vars_expr(df: DataFrame, custom_cols: list[str]) -> Column:
    """The custom-vars pivot (internal/service.go:104-109): a JSON object
    with keys sorted byte-wise (Go json.Marshal map ordering), absent keys
    omitted, no custom columns ⇒ literal ``{}``."""
    if not custom_cols:
        return F.lit("{}")
    frags = []
    for name in sorted(custom_cols):
        # Go json.Marshal key text, computed at plan time: raw UTF-8 (no
        # \uXXXX for non-ASCII) plus encoding/json's default escapes
        key_lit = go_json_escape(json.dumps(name, ensure_ascii=False))
        frags.append(
            F.when(
                F.col(f"`{name}`").isNotNull(),
                F.concat(F.lit(key_lit + ":"), _custom_value_expr(df, name)),
            )
        )
    return F.concat(F.lit("{"), F.concat_ws(",", *frags), F.lit("}"))


def build_parity_projection(
    df: DataFrame,
    schema: Schema,
    convert: Callable[[Column, bool], Column] = value_to_string,
) -> DataFrame:
    """Ordered projection with null-fill (internal/service.go:98-117): every
    output column is a string in effective-schema order; missing source
    field or destination-only column ⇒ empty string. ``convert`` is the
    per-sink scalar conversion (ValueToStringFn analog)."""
    known, custom = partition_columns(df.columns, schema)
    cv = custom_vars_expr(df, custom)
    out: list[Column] = []
    for field in schema:
        if not field.fs_field_name:
            out.append(F.lit("").alias(field.db_name))
        elif field.db_name == "CustomVars":
            out.append(cv.alias(field.db_name))
        else:
            src = known.get(field.fs_field_name.lower())
            if src is None:
                out.append(F.lit("").alias(field.db_name))
            else:
                out.append(
                    F.coalesce(
                        convert(F.col(f"`{src}`"), field.is_time), F.lit("")
                    ).alias(field.db_name)
                )
    return df.select(out)
