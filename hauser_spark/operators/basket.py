"""Market-basket pair co-occurrence (frequent itemset pairs + lift).

Which parts are bought together in the same order, how often, and is the
co-occurrence above chance (lift)? The classic association-rule seed —
and a classic scale trap: the naive formulation is a self-join of the
(order, item) table on the order key, which shuffles the fact table
twice and materializes every candidate pair across the join.

Scale-path shape used here (one pass, pairs generated JVM-side):
  1. distinct (order, item), then groupBy(order) → sorted item array —
     ONE shuffle on the order key serves both. Per-order arrays are
     bounded (max 13 distinct parts per order in this data; real basket
     miners cap the basket size exactly like this — a 10k-item basket
     contributes 50M pairs and is pruned, not exploded).
  2. Pair generation as a higher-order-function expression
     (transform × slice × flatten) inside whole-stage codegen — no
     Python, no join, output size = Σ C(|basket|,2), not |fact|².
  3. groupBy(pair) count — second shuffle carries only the pairs.
  4. Lift denominators: per-item order counts are a small dim (≤ #parts
     rows) joined broadcast; the total-order count is a 1-row literal
     cross-joined broadcast. Nothing re-shuffles the pair table.

The reference has no joins at all (SURVEY §2.6); this belongs to the
beyond-reference analytics surface. Lift arithmetic is exact-integer
(long × long) until the final rounded division, so DuckDB matches
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table

MIN_ORDERS = 3  # support threshold: pair must co-occur in ≥ 3 orders


def pair_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part pairs co-purchased in ≥ MIN_ORDERS orders, with lift."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey")

    # cached: the distinct (order, item) stream feeds the basket
    # aggregate, both lift-denominator reads and the total.  The keyed
    # user repartition is the one exchange the distinct and the basket
    # aggregate ride, and is never AQE-coalesced, so the pair Generate
    # keeps full parallelism.  Caching the stream, not the baskets,
    # makes each broadcast an aggregate of the cached frame rather than
    # an explode of it, whose row count Catalyst underestimates
    # (plan-gated).
    distinct_items = (
        items.repartition(
            spark.sparkContext.defaultParallelism, "l_orderkey"
        )
        .distinct()
        .cache()
    )
    baskets = distinct_items.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_partkey")).alias("items")
    )
    # all ordered pairs (items[i], items[j]) with i < j, as two stacked
    # codegen'd Generates (posexplode anchors p1, explode of the 1-based
    # slice beyond it yields each p2) — slice is a native expression, so
    # the whole pair stream stays inside whole-stage codegen, where the
    # former flatten(transform(transform(...))) nesting was interpreted
    # higher-order-function evaluation per pair
    pairs = baskets.select(
        "items", F.posexplode("items").alias("i", "p1")
    ).select(
        "p1",
        F.explode(F.expr("slice(items, i + 2, size(items))")).alias("p2"),
    )

    counts = (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= MIN_ORDERS)
    )

    # per-item order counts and the total ride the same cached stream
    # instead of a second full shuffle of the fact table
    item_orders = distinct_items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("item_n")
    )
    totals = baskets.agg(F.count(F.lit(1)).alias("total_orders"))

    return (
        counts.join(
            F.broadcast(item_orders.withColumnRenamed("l_partkey", "p1")
                        .withColumnRenamed("item_n", "n1")),
            "p1",
        )
        .join(
            F.broadcast(item_orders.withColumnRenamed("l_partkey", "p2")
                        .withColumnRenamed("item_n", "n2")),
            "p2",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "p1",
            "p2",
            "n_orders",
            F.round(
                (F.col("n_orders") * F.col("total_orders"))
                / (F.col("n1") * F.col("n2")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_orders"), "p1", "p2")
    )


QUERIES = {
    "basket_pair_cooccurrence": pair_cooccurrence,
}

ORACLES = {
    "basket_pair_cooccurrence": f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        counts AS (
            SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                   count(*) AS n_orders
            FROM items a
            JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= {MIN_ORDERS}
        ),
        item_orders AS (
            SELECT l_partkey, count(*) AS item_n FROM items GROUP BY 1
        ),
        totals AS (
            SELECT count(DISTINCT l_orderkey) AS total_orders FROM items
        )
        SELECT c.p1, c.p2, c.n_orders,
               ROUND((c.n_orders * t.total_orders)
                     / CAST(i1.item_n * i2.item_n AS DOUBLE), 6) AS lift
        FROM counts c
        JOIN item_orders i1 ON i1.l_partkey = c.p1
        JOIN item_orders i2 ON i2.l_partkey = c.p2
        CROSS JOIN totals t
        ORDER BY c.n_orders DESC, c.p1, c.p2
    """,
}
