"""Distributed table reconciliation (data-diff) — checksum buckets
first, move rows only where they disagree.

Comparing two 100 TB replicas (cross-region copy, CDC target vs source,
pre/post-migration) with a naive full-outer-join diff shuffles BOTH
tables end to end — the worst join there is. The scale path, used by
every production data-diff tool, is two-phase:

  1. **Bucket checksums**: per row, an order-free content hash; per
     bucket (`pmod(key, N_BUCKETS)`), xor-of-hashes + count. Map-side
     partial aggregation collapses each side to N_BUCKETS rows before
     the exchange — network cost O(N_BUCKETS), not O(rows).
  2. **Drill-down**: buckets whose (checksum, count) disagree — a
     handful under realistic drift — are broadcast back as a semi-join
     filter; only THEIR rows enter the row-level full-outer-join, which
     classifies each key as added / removed / changed. With 0.01% drift
     the second phase joins megabytes, not terabytes, and bucket
     pruning is lossless for any difference the 60-bit hash xor
     detects (collision odds ~2^-60, and deterministic).

Both phases read a per-side PROXY — (key, bucket, row-hash, the one
compared metric) — materialized once per side from a single scan (the
guide's "decide with small rows, move big rows once" shape): the full
row width is read and hashed exactly once per side, and everything
downstream (summaries, the dirty-bucket semi-join, the row-level
full-outer-join, the verdict columns) runs on ~28 bytes/row.  The old
shape re-scanned and re-hashed each side once per consumer — six full
orders scans per run.

The "other replica" is derived in-engine from `orders` by deterministic
key arithmetic (drop `%89` keys, perturb `%97` prices, append shifted
`%101` clones), so the DuckDB oracle derives the identical pair and
diffs it directly with a plain full outer join — proving the bucketed
two-phase plan ≡ the naive full diff.  The replica is emitted by ONE
orders scan via `inline(filter(array(...)))` — each source row yields
its kept/perturbed image and, independently, its shifted clone — the
same one-scan fan device as cdc_log_compaction.

Beyond-reference surface: the reference's closest relative is the
exactly-once repair check comparing `max(EventStart)` to the sync
watermark (`warehouse/redshift.go:330-354`) — a 1-cell reconciliation;
this generalizes it to full-content reconciliation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table

N_BUCKETS = 256


def _variant_b(orders: DataFrame) -> DataFrame:
    """Deterministically drifted replica: removed / changed / added.

    ONE scan: each row fans to its surviving branches via
    inline(filter(array(...))) — branch 1 is the kept row with the
    `%97` price perturbation (absent for `%89` keys), branch 2 the
    `%101` key-shifted clone (judged on the ORIGINAL key set, exactly
    like the old union's second scan).  Same record multiset as the
    two-scan union, one pass.
    """
    cols = orders.columns
    struct_fields = ", ".join(f"'{c}', {c}" for c in cols)
    kept = struct_fields.replace(
        "'o_totalprice', o_totalprice",
        "'o_totalprice', CASE WHEN o_orderkey % 97 = 0"
        " THEN o_totalprice + 1.0D ELSE o_totalprice END",
    )
    clone = struct_fields.replace(
        "'o_orderkey', o_orderkey",
        "'o_orderkey', o_orderkey + 10000000L",
    )
    assert kept != struct_fields and clone != struct_fields, cols
    fan = (
        "inline(filter(array("
        f"CASE WHEN o_orderkey % 89 != 0 THEN named_struct({kept}) END,"
        f"CASE WHEN o_orderkey % 101 = 0 THEN named_struct({clone}) END"
        "), x -> x IS NOT NULL))"
    )
    return orders.selectExpr(fan)


def _with_row_hash(df: DataFrame) -> DataFrame:
    """``df`` plus its bucket and 60-bit content hash over every column
    (``df`` needs an ``o_orderkey``)."""
    cols = ", ".join(f"cast({c} as string)" for c in df.columns)
    return df.select(
        "*",
        F.pmod(F.col("o_orderkey"), F.lit(N_BUCKETS)).alias("__bucket"),
        F.expr(
            f"conv(substr(md5(concat_ws('|', {cols})), 1, 15), 16, 10)"
        )
        .cast("long")
        .alias("__rh"),
    )


def _row_proxy(df: DataFrame) -> DataFrame:
    """(key, bucket, 60-bit row hash, compared metric) — hashed once."""
    return _with_row_hash(df).select(
        "o_orderkey", "__bucket", "__rh", "o_totalprice"
    )


def _bucket_summary(df: DataFrame) -> DataFrame:
    # bit_xor: order-free AND overflow-free (ANSI-safe) combine of 60-bit
    # row hashes; a pair of identical rows would cancel, but keys are
    # unique and the row count travels alongside the checksum
    return df.groupBy("__bucket").agg(
        F.expr("bit_xor(__rh)").alias("checksum"),
        F.count(F.lit(1)).alias("n"),
    )


def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase reconciliation of orders vs its drifted replica."""
    # cache(), not localCheckpoint(): lazy population keeps the two
    # sides' summary jobs concurrent instead of serializing two
    # materialization jobs ahead of every consumer
    a = _row_proxy(load_table(spark, sf_dir, "orders")).cache()
    b = _row_proxy(_variant_b(load_table(spark, sf_dir, "orders"))).cache()

    sa = _bucket_summary(a)
    sb = _bucket_summary(b)
    dirty = (
        sa.alias("sa")
        .join(sb.alias("sb"), "__bucket", "full_outer")
        .filter(
            ~(
                F.col("sa.checksum").eqNullSafe(F.col("sb.checksum"))
                & F.col("sa.n").eqNullSafe(F.col("sb.n"))
            )
        )
        .select("__bucket")
    )

    a_rows = a.join(F.broadcast(dirty), "__bucket", "left_semi")
    b_rows = b.join(F.broadcast(dirty), "__bucket", "left_semi")
    j = a_rows.alias("a").join(
        b_rows.alias("b"),
        F.col("a.o_orderkey") == F.col("b.o_orderkey"),
        "full_outer",
    )
    return (
        j.select(
            F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias(
                "o_orderkey"
            ),
            F.when(F.col("b.o_orderkey").isNull(), F.lit("removed"))
            .when(F.col("a.o_orderkey").isNull(), F.lit("added"))
            .when(F.col("a.__rh") != F.col("b.__rh"), F.lit("changed"))
            .otherwise(F.lit("equal"))
            .alias("verdict"),
            F.round(F.col("a.o_totalprice"), 2).alias("price_a"),
            F.round(F.col("b.o_totalprice"), 2).alias("price_b"),
        )
        .filter(F.col("verdict") != "equal")
        .orderBy("o_orderkey")
    )


QUERIES = {
    "diff_table_reconcile": table_diff,
}

_B_SQL = """
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 89 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
               o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 101 = 0
"""

ORACLES = {
    # the naive full diff the two-phase plan must be equivalent to;
    # construction only ever perturbs o_totalprice, so row inequality
    # for keys present on both sides reduces to price inequality
    "diff_table_reconcile": f"""
        WITH b AS ({_B_SQL})
        SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
               CASE WHEN b.o_orderkey IS NULL THEN 'removed'
                    WHEN a.o_orderkey IS NULL THEN 'added'
                    ELSE 'changed' END AS verdict,
               ROUND(a.o_totalprice, 2) AS price_a,
               ROUND(b.o_totalprice, 2) AS price_b
        FROM orders a
        FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
        WHERE a.o_orderkey IS NULL
           OR b.o_orderkey IS NULL
           OR a.o_totalprice <> b.o_totalprice
        ORDER BY o_orderkey
    """,
}
