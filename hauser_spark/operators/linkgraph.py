"""Link-graph analytics — KNN graph construction, PageRank, triangles.

A curation pipeline that scores sources needs link-style authority and
community signals (PageRank over a similarity/citation graph is how
"quality via connectivity" is computed for web-scale corpora; triangle
density separates organic neighborhoods from spam farms).  The synthetic
corpus has no hyperlinks, so the graph here is derived: the supplier
*co-supply* graph (suppliers sharing parts, via ``lineitem``), sparsified
to a top-K-neighbors (KNN) graph — the same construction used for
embedding-similarity graphs at corpus scale.

Scale design — every stage is bounded:

- pair generation caps suppliers per part at ``PART_CAP`` (deterministic
  top-by-lineitem-count) so per-part fan-out is ≤ C², and the pair
  aggregate is a map-side-combinable groupBy — the identical shape as
  ``operators/basket.py``'s co-occurrence cap;
- the KNN sparsification bounds degree: N·K directed edges survive no
  matter how dense co-supply is (a complete graph at TPC-H uniformity),
  so every downstream join is linear in node count;
- PageRank runs a FIXED number of power iterations declared as one
  lazy DataFrame plan — five self-joins Catalyst sees whole; each
  iteration is edges ⋈ ranks (shuffle on node id, reusable partitioning)
  + groupBy-sum with map-side partials.  No driver loop, no collect.
  On a 10⁹-node graph the same plan runs with the edge list bucketed by
  src; convergence-checked variants would checkpoint per round like
  ``operators/graph.py`` — here the iteration count is fixed precisely
  so the whole computation stays declarative and oracle-checkable;
- triangle counting orients edges low-degree→high-degree (the classic
  O(m^{3/2}) bound: every wedge is rooted at its lowest-degree vertex),
  then one self-join + one existence semi-join.  Orientation is what
  keeps hub vertices from generating quadratic wedges.

The reference has no graph surface (its only join is the schema
reconcile); this extends the beyond-reference training-data toolkit.
All three queries are deterministic (fixed iterations, total tie-break
orders) and oracle-checked bit-for-bit against DuckDB CTE mirrors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table
from ..memo import session_memo

PART_CAP = 48  # max suppliers kept per part (deterministic)
KNN_K = 8      # neighbors kept per node
DAMPING = 0.85
N_ITER = 5


def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected KNN co-supply edge list (a < b), bounded degree ≤ 2K."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    ps0 = li.groupBy("l_partkey", "l_suppkey").agg(
        F.count(F.lit(1)).alias("n_li")
    )
    w_cap = Window.partitionBy("l_partkey").orderBy(
        F.desc("n_li"), F.asc("l_suppkey")
    )
    ps = (
        ps0.withColumn("rk", F.row_number().over(w_cap))
        .filter(F.col("rk") <= PART_CAP)
        .select("l_partkey", "l_suppkey")
    )
    # pair generation WITHOUT a self-join: the capped (≤ PART_CAP)
    # supplier list per part is collected once and its C(k,2) pairs are
    # exploded map-side — same pair multiset as the ps⋈ps formulation
    # (which the oracle keeps), but the 13M-row join intermediate never
    # exists and the only shuffles are two partial-aggregated groupBys.
    # Memory-safe at any scale: lists are post-cap, ≤ 48 elements.
    lists = ps.groupBy("l_partkey").agg(
        F.sort_array(F.collect_list("l_suppkey")).alias("ss")
    )
    pair_expr = F.explode(
        F.flatten(
            F.expr(
                "transform(ss, (x, i) ->"
                " transform(slice(ss, i + 2, size(ss)),"
                " y -> struct(x AS s1, y AS s2)))"
            )
        )
    )
    pw = (
        lists.select(pair_expr.alias("p"))
        .select(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    sym = pw.select(
        F.col("s1").alias("src"), F.col("s2").alias("dst"), "w"
    ).unionByName(
        pw.select(F.col("s2").alias("src"), F.col("s1").alias("dst"), "w")
    )
    w_knn = Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    knn = (
        sym.withColumn("rk", F.row_number().over(w_knn))
        .filter(F.col("rk") <= KNN_K)
        .select("src", "dst")
    )
    return knn.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()


# Session memo for the KNN edge frame: all four graph queries derive
# from the same sparsified edge list, and the pair-generation self-join
# is the expensive stage (~3 s per rebuild at sf0.1).  Node-count-sized
# frame; a real cluster deployment would persist it to reliable storage
# (checkpoint dir / a bucketed table) instead.
@session_memo
def knn_edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _knn_edges(spark, sf_dir).localCheckpoint(eager=False)


def _edges_sql() -> str:
    """Oracle CTE block building the identical undirected edge list."""
    return f"""
        ps0 AS (
            SELECT l_partkey, l_suppkey, count(*) AS n_li
            FROM lineitem GROUP BY 1, 2
        ),
        ps AS (
            SELECT l_partkey, l_suppkey FROM (
                SELECT l_partkey, l_suppkey,
                       row_number() OVER (PARTITION BY l_partkey
                                          ORDER BY n_li DESC, l_suppkey) AS rk
                FROM ps0) t WHERE rk <= {PART_CAP}
        ),
        pw AS (
            SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, count(*) AS w
            FROM ps a JOIN ps b
              ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
            GROUP BY 1, 2
        ),
        sym AS (
            SELECT s1 AS src, s2 AS dst, w FROM pw
            UNION ALL SELECT s2, s1, w FROM pw
        ),
        knn AS (
            SELECT src, dst FROM (
                SELECT src, dst,
                       row_number() OVER (PARTITION BY src
                                          ORDER BY w DESC, dst) AS rk
                FROM sym) t WHERE rk <= {KNN_K}
        ),
        und AS (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM knn
        ),
        edges AS (SELECT a AS src, b AS dst FROM und
                  UNION ALL SELECT b, a FROM und),
        deg AS (SELECT src AS node, count(*) AS degree FROM edges GROUP BY 1)
    """


def degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree → node count over the KNN co-supply graph.

    The one-scan sanity profile of any derived graph: a spike at K means
    sparsification dominated; a long tail means hubs survived it.
    """
    und = knn_edges_cached(spark, sf_dir)
    edges = und.select(F.col("a").alias("node")).unionByName(
        und.select(F.col("b").alias("node"))
    )
    deg = edges.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("degree")
    )


def pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the undirected KNN graph, N_ITER power iterations.

    The iteration is declared as ONE unrolled SQL CTE chain (r0..rN)
    over two cached temp views (the degree table and the edge list with
    the source degree folded in) — a single Catalyst analysis pass.
    The previous driver-loop form paid ~0.7 s of plan compilation PER
    ROUND inside ``localCheckpoint`` (even ``eager=False`` compiles via
    ``toRdd``), putting 2.4 s of a 2.8 s query on the driver; the
    round-10 kmeans SQL-string rewrite is the precedent
    (``operators/similarity.py`` Lloyd loop).  Arithmetic is unchanged
    term-for-term (0.15/n + 0.85·coalesce(inflow, 0), start 1/n), so
    results are bit-identical to the oracle's unrolled CTE mirror.

    Scale shape per iteration (unchanged): edges ⋈ ranks shuffled on
    node id + one map-side-combinable inflow aggregate; AQE sees the
    whole 5-round DAG at once.  Every node has degree ≥ 1 by
    construction, so there is no dangling mass.
    """
    import hashlib

    und = knn_edges_cached(spark, sf_dir)
    edges = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    ).cache()  # node-sized; read by every round
    # src-side degree folded into the edge list ONCE (node-sized join),
    # so each iteration is a single join + one map-side-combinable agg —
    # without this the plan re-joined degrees every round (measured
    # 9.7s → 2.3s at sf0.1 for the whole query).
    ed = (
        edges.join(
            deg.withColumnRenamed("node", "src_n"),
            edges.src == F.col("src_n"),
        )
        .select("src", "dst", F.col("degree").alias("src_deg"))
        .cache()
    )
    # temp-view names carry an sf_dir tag: views are session-global and
    # concurrent builder threads may run different scale factors
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    deg_v, ed_v = f"pr_deg_{tag}", f"pr_ed_{tag}"
    deg.createOrReplaceTempView(deg_v)
    ed.createOrReplaceTempView(ed_v)
    base = round(1.0 - DAMPING, 6)
    # node count as an uncorrelated SCALAR subquery — evaluated once and
    # embedded as a literal, so no join appears in the plan (a 1-row
    # CROSS JOIN compiles to BroadcastNestedLoopJoin, which the
    # graph-family plan gate rightly forbids)
    nn = f"(SELECT count(*) FROM {deg_v})"
    ctes = [
        f"r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / {nn} AS r "
        f"FROM {deg_v})",
    ]
    for t in range(1, N_ITER + 1):
        # the rank vector is node-sized, orders smaller than the edge
        # list, so each round BROADCASTS ranks into the edge join (the
        # canonical PageRank plan while ranks fit; at billion-node scale
        # drop the hints and the same SQL shuffles on node id) — one
        # shuffle per round (the inflow aggregate) instead of three
        ctes.append(
            f"""r{t} AS (
            SELECT /*+ BROADCAST(c) */ d.node,
                   CAST({base} AS DOUBLE) / {nn}
                   + CAST({DAMPING} AS DOUBLE)
                     * coalesce(c.inflow, CAST(0.0 AS DOUBLE)) AS r
            FROM (SELECT node FROM {deg_v}) d
            LEFT JOIN (SELECT /*+ BROADCAST(p) */
                              e.dst AS node, sum(p.r / e.src_deg) AS inflow
                       FROM {ed_v} e JOIN r{t - 1} p ON e.src = p.node
                       GROUP BY e.dst) c
              ON d.node = c.node
        )"""
        )
    cte_sql = ",\n".join(ctes)
    return spark.sql(
        f"""WITH {cte_sql}
        SELECT node AS s_suppkey, round(r, 6) AS pagerank
        FROM r{N_ITER}
        ORDER BY pagerank DESC, s_suppkey"""
    )


def _pagerank_oracle() -> str:
    it = """
        r{t} AS (
            SELECT d.node,
                   CAST({base} AS DOUBLE) / nn.n
                   + {d} * coalesce(sum(r.r / rd.degree), 0) AS r
            FROM deg d
            LEFT JOIN edges e ON e.dst = d.node
            LEFT JOIN r{p} r ON r.node = e.src
            LEFT JOIN deg rd ON rd.node = e.src
            CROSS JOIN nn
            GROUP BY d.node, nn.n
        )"""
    iters = ",".join(
        it.format(t=i, p=i - 1, base=round(1.0 - DAMPING, 6), d=DAMPING)
        for i in range(1, N_ITER + 1)
    )
    return f"""
        WITH {_edges_sql()},
        nn AS (SELECT count(*) AS n FROM deg),
        r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS r FROM deg, nn),
        {iters}
        SELECT node AS s_suppkey, round(r, 6) AS pagerank
        FROM r{N_ITER}
        ORDER BY pagerank DESC, s_suppkey
    """


# Session memo for the degree + oriented edge frames: both derive
# deterministically from the KNN edge memo, the oriented list is read
# three times per triangles run (two wedge sides + the semi probe), and
# each re-reference used to inline the whole edges⋈deg⋈deg subtree —
# the warm plan was 237 exchanges / 2.3k lines of pure re-analysis for
# a node-sized frame.
@session_memo
def _deg_oriented_cached(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    und = knn_edges_cached(spark, sf_dir)
    edges = und.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint(eager=False)
    )
    # orient: (deg(src), src) < (deg(dst), dst)
    d1 = deg.alias("d1")
    d2 = deg.alias("d2")
    oriented = (
        edges.join(d1, edges.src == F.col("d1.node"))
        .join(d2, edges.dst == F.col("d2.node"))
        .filter(
            (F.col("d1.degree") < F.col("d2.degree"))
            | (
                (F.col("d1.degree") == F.col("d2.degree"))
                & (F.col("src") < F.col("dst"))
            )
        )
        .select("src", "dst")
        .localCheckpoint(eager=False)
    )
    # oriented out-adjacency as sorted arrays: the triangle probe is
    # an in-row array_intersect instead of a wedge-materializing
    # self-join + semi probe.  Orientation bounds each array at the
    # oriented out-degree (O(√m) for the classic bound), so the
    # intersect is cheap and the wedge intermediate never exists.
    adj = (
        oriented.groupBy(F.col("src").alias("node"))
        .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
        .localCheckpoint(eager=False)
    )
    return deg, oriented, adj


def triangles_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count and local clustering coefficient.

    Edges oriented low-degree→high-degree (ties by id) so wedge
    enumeration is rooted at the lowest-degree vertex — the standard
    O(m^{3/2}) strategy that keeps hubs from quadratic wedge fan-out.
    For each oriented edge (u,v), the triangles through it are exactly
    N⁺(u) ∩ N⁺(v) (w completes u→v, u→w, v→w — the same (x,y,z) triple
    multiset as wedge-join + existence probe, each triangle rooted at
    its lowest-degree vertex).  Degree / oriented / adjacency frames
    ride the session memo above, so a warm run is two node-keyed joins,
    one in-row intersect, and a per-node rollup.
    """
    deg, oriented, adj = _deg_oriented_cached(spark, sf_dir)
    tris = (
        oriented.join(
            adj.selectExpr("node AS src", "nbrs AS ns1"), "src"
        )
        .join(adj.selectExpr("node AS dst", "nbrs AS ns2"), "dst")
        .select(
            "src",
            "dst",
            F.explode(F.array_intersect("ns1", "ns2")).alias("w"),
        )
    )
    per_node = (
        tris.select(F.explode(F.array("src", "dst", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    out = (
        deg.join(per_node, "node", "left")
        .select(
            F.col("node").alias("s_suppkey"),
            "degree",
            F.coalesce("n_tri", F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    F.lit(2.0)
                    * F.coalesce("n_tri", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("local_cc"),
        )
        .orderBy("s_suppkey")
    )
    return out


def _triangles_oracle() -> str:
    return f"""
        WITH {_edges_sql()},
        oriented AS (
            SELECT e.src, e.dst FROM edges e
            JOIN deg d1 ON d1.node = e.src
            JOIN deg d2 ON d2.node = e.dst
            WHERE d1.degree < d2.degree
               OR (d1.degree = d2.degree AND e.src < e.dst)
        ),
        tris AS (
            SELECT t1.src AS x, t1.dst AS y, t2.dst AS z
            FROM oriented t1
            JOIN oriented t2 ON t1.dst = t2.src
            WHERE EXISTS (SELECT 1 FROM oriented t3
                          WHERE t3.src = t1.src AND t3.dst = t2.dst)
        ),
        per_node AS (
            SELECT node, count(*) AS n_tri FROM (
                SELECT x AS node FROM tris
                UNION ALL SELECT y FROM tris
                UNION ALL SELECT z FROM tris) t
            GROUP BY 1
        )
        SELECT d.node AS s_suppkey,
               d.degree,
               CAST(coalesce(p.n_tri, 0) AS BIGINT) AS n_triangles,
               CASE WHEN d.degree >= 2 THEN
                   round(2.0 * coalesce(p.n_tri, 0)
                         / CAST(d.degree * (d.degree - 1) AS DOUBLE), 6)
               ELSE CAST(0.0 AS DOUBLE) END AS local_cc
        FROM deg d LEFT JOIN per_node p ON p.node = d.node
        ORDER BY s_suppkey
    """


def _degree_hist_oracle() -> str:
    return f"""
        WITH {_edges_sql()}
        SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
        FROM deg GROUP BY degree ORDER BY degree
    """


QUERIES = {
    "graph_degree_histogram": degree_histogram,
    "graph_pagerank": pagerank,
    "graph_triangles_clustering": triangles_clustering,
}

ORACLES = {
    "graph_degree_histogram": _degree_hist_oracle(),
    "graph_pagerank": _pagerank_oracle(),
    "graph_triangles_clustering": _triangles_oracle(),
}


# ------------------------------------------------- label propagation

LPA_ROUNDS = 4


def label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation community detection over the KNN
    co-supply graph: LPA_ROUNDS rounds, every node adopts the most
    frequent label among its neighbors (ties → smallest label), all
    updates from the previous round's labels.

    Output is the per-round CONVERGENCE TRAJECTORY (community count and
    largest-community size after each round) — on this dense KNN graph
    LPA correctly floods to one community, and the trajectory (how fast
    labels coalesce) is the informative diagnostic, exactly what an LPA
    health check monitors on a real similarity graph.  Synchronous
    updates + total tie order make every round deterministic and
    oracle-checkable — the same reason ``operators/graph.py`` pins its
    CC fixpoint.  Each round is one edges⋈labels shuffle (reusing the
    edge partitioning) + a map-side-combinable (node, label) count + one
    bounded per-node argmax window; rounds are declared into a single
    lazy plan, no driver loop state.
    """
    und = knn_edges_cached(spark, sf_dir)
    edges = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).cache()  # joined every round
    nodes = edges.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("lbl"))

    def summary(lb, rnd):
        per = lb.groupBy("lbl").agg(F.count(F.lit(1)).alias("m"))
        return per.agg(
            F.lit(rnd).cast("long").alias("round"),
            F.count(F.lit(1)).alias("n_communities"),
            F.max("m").alias("largest_community"),
        )

    out = summary(labels, 0)
    for r in range(1, LPA_ROUNDS + 1):
        neigh = (
            edges.join(
                labels.withColumnRenamed("node", "src_n"),
                edges.src == F.col("src_n"),
            )
            .groupBy(F.col("dst").alias("node"), F.col("lbl"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lbl"))
        # cache(), not localCheckpoint(): both dedup this round's two
        # consumers (the next round + this round's summary), but the
        # checkpoint compiles the physical plan EAGERLY per round via
        # toRdd (~0.25 s of driver time each) while cache defers to the
        # single final job.  Measured at sf0.1: build 1.45 → 0.47 s,
        # total 1.84 → 1.18 s.  BFS below keeps its checkpoint: its
        # per-round isEmpty() materializes the cache partition-by-
        # partition and re-derives the rest per consumer (probed:
        # 2.2 → 3.9 s, a regression).  NOTE: each call leaves
        # LPA_ROUNDS + 1 cached relations registered (they cannot be
        # unpersisted here — the returned frame is lazy and reads
        # them); long-lived sessions invoking this repeatedly must
        # clear the cache between calls, as bench.py's per-query
        # spark.catalog.clearCache() does.
        labels = (
            neigh.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("node", "lbl")
        ).cache()
        out = out.unionByName(summary(labels, r))
    return out.orderBy("round")


def _lpa_oracle() -> str:
    rounds = []
    prev = "l0"
    for r in range(1, LPA_ROUNDS + 1):
        rounds.append(f"""
        l{r} AS (
            SELECT node, lbl FROM (
                SELECT e.dst AS node, p.lbl, count(*) AS c,
                       row_number() OVER (PARTITION BY e.dst
                                          ORDER BY count(*) DESC, p.lbl)
                           AS rk
                FROM edges e JOIN {prev} p ON p.node = e.src
                GROUP BY e.dst, p.lbl) t
            WHERE rk = 1
        )""")
        prev = f"l{r}"
    summaries = " UNION ALL ".join(
        f"""SELECT CAST({r} AS BIGINT) AS round,
               CAST(count(DISTINCT lbl) AS BIGINT) AS n_communities,
               CAST(max(m) AS BIGINT) AS largest_community
            FROM (SELECT lbl, count(*) AS m FROM l{r} GROUP BY lbl) t{r}"""
        for r in range(LPA_ROUNDS + 1)
    )
    return f"""
        WITH {_edges_sql()},
        l0 AS (SELECT node, node AS lbl FROM deg),
        {",".join(rounds)}
        SELECT * FROM ({summaries}) ORDER BY round
    """


QUERIES["graph_label_propagation"] = label_propagation
ORACLES["graph_label_propagation"] = _lpa_oracle()


# --------------------------------------------------------- k-core peel

KCORE_K = 9
KCORE_ROUNDS = 5


def kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition by synchronous peeling: KCORE_ROUNDS rounds
    of "drop every node with degree < K in the current subgraph",
    reporting the per-round (nodes, edges) trajectory — converged when
    the counts stop moving; what survives is the K-core.

    The standard dense-subgraph extractor (spam-cluster mining, graph
    sampling cores).  Peeling is monotone, so the fixed-round prefix is
    deterministic and oracle-checkable even before convergence.  Each
    round: one degree aggregate (map-side partials) + one semi-join to
    drop peeled endpoints — both keyed on node id, reusing the edge
    partitioning; ``localCheckpoint`` truncates lineage per round like
    PageRank/LPA.
    """
    und = knn_edges_cached(spark, sf_dir)
    edges = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).cache()

    def summary(deg, rnd):
        # nodes and edges both read off the degree frame the peel
        # already needs — no separate countDistinct pass per round
        return deg.agg(
            F.lit(rnd).cast("long").alias("round"),
            F.count(F.lit(1)).alias("n_nodes"),
            (F.coalesce(F.sum("d"), F.lit(0)) / 2).cast("long").alias(
                "n_edges"
            ),
        ).select("round", "n_nodes", "n_edges")

    cur = edges
    outs = []
    for r in range(KCORE_ROUNDS + 1):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        outs.append(summary(deg, r))
        if r == KCORE_ROUNDS:
            break
        keep = deg.filter(F.col("d") >= KCORE_K).select("src")
        cur = (
            cur.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=False)
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("round")


def _kcore_oracle() -> str:
    # every per-round CTE is MATERIALIZED: DuckDB inlines plain CTEs at
    # each reference, and e{r} references e{r-1} three times — unrolled
    # five deep that is 3^5 re-evaluations of the edge build (the same
    # device as the BPE-train oracle's materialized merge rounds).
    rounds = []
    prev = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        rounds.append(f"""
        k{r} AS MATERIALIZED (
            SELECT src FROM {prev}
            GROUP BY src HAVING count(*) >= {KCORE_K}
        ),
        e{r} AS MATERIALIZED (
            SELECT e.src, e.dst FROM {prev} e
            JOIN k{r} a ON a.src = e.src
            JOIN k{r} b ON b.src = e.dst
        )""")
        prev = f"e{r}"
    summaries = " UNION ALL ".join(
        f"""SELECT CAST({r} AS BIGINT) AS round,
               CAST(count(DISTINCT src) AS BIGINT) AS n_nodes,
               CAST(count(*) / 2 AS BIGINT) AS n_edges
            FROM e{r}"""
        for r in range(KCORE_ROUNDS + 1)
    )
    return f"""
        WITH {_edges_sql()},
        e0 AS MATERIALIZED (SELECT src, dst FROM edges),
        {",".join(rounds)}
        SELECT * FROM ({summaries}) ORDER BY round
    """


QUERIES["graph_kcore_peel"] = kcore_peel
ORACLES["graph_kcore_peel"] = _kcore_oracle()


# --------------------------------------------------- link prediction

LINKPRED_TOP = 20


def link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-coefficient link prediction: for every NON-adjacent node
    pair within two hops, |N(u)∩N(v)| / |N(u)∪N(v)|, top LINKPRED_TOP —
    "which co-supply relationships are missing?", the classic
    similarity-graph completion score.

    Candidates are exactly the 2-hop wedge endpoints (a pair with zero
    common neighbors scores zero, so nothing outside two hops can rank)
    — fan-out bounded by Σdeg(center)² under the KNN degree cap, the
    same wedge frame as triangle counting.  The ranking key is the
    exact integer-ratio quotient (common·1 / union of exact longs), so
    the top-k cut is engine-deterministic; the adjacency exclusion is
    one anti-join against the edge list.
    """
    und = knn_edges_cached(spark, sf_dir)
    edges = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).cache()
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    wedges = (
        e1.join(
            e2,
            (F.col("e1.src") == F.col("e2.src"))
            & (F.col("e1.dst") < F.col("e2.dst")),
        )
        .groupBy(
            F.col("e1.dst").alias("u"), F.col("e2.dst").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    non_adj = wedges.join(
        und.withColumnRenamed("a", "u").withColumnRenamed("b", "v"),
        ["u", "v"],
        "left_anti",
    )
    d1 = deg.withColumnRenamed("node", "u").withColumnRenamed(
        "degree", "du"
    )
    d2 = deg.withColumnRenamed("node", "v").withColumnRenamed(
        "degree", "dv"
    )
    scored = (
        non_adj.join(d1, "u")
        .join(d2, "v")
        .select(
            "u",
            "v",
            "common",
            (F.col("du") + F.col("dv") - F.col("common")).alias("union_n"),
        )
    )
    ratio = F.col("common") / F.col("union_n")
    return (
        scored.select(
            "u",
            "v",
            "common",
            F.round(ratio, 6).alias("jaccard"),
        )
        .orderBy((F.col("common") / F.col("union_n")).desc(), "u", "v")
        .limit(LINKPRED_TOP)
    )


def _linkpred_oracle() -> str:
    return f"""
        WITH {_edges_sql()},
        wedges AS (
            SELECT e1.dst AS u, e2.dst AS v, count(*) AS common
            FROM edges e1 JOIN edges e2
              ON e1.src = e2.src AND e1.dst < e2.dst
            GROUP BY e1.dst, e2.dst
        ),
        non_adj AS (
            SELECT w.* FROM wedges w
            WHERE NOT EXISTS (SELECT 1 FROM und
                              WHERE und.a = w.u AND und.b = w.v)
        )
        SELECT n.u, n.v, CAST(n.common AS BIGINT) AS common,
               round(n.common / CAST(du.degree + dv.degree - n.common
                                     AS DOUBLE), 6) AS jaccard
        FROM non_adj n
        JOIN deg du ON du.node = n.u
        JOIN deg dv ON dv.node = n.v
        ORDER BY n.common / CAST(du.degree + dv.degree - n.common AS DOUBLE)
                 DESC, n.u, n.v
        LIMIT {LINKPRED_TOP}
    """


QUERIES["graph_link_prediction"] = link_prediction
ORACLES["graph_link_prediction"] = _linkpred_oracle()


# --------------------------------------------------- BFS distance layers

BFS_ROUNDS = 6


def bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first distance layers from the minimum-id node: per
    distance 0..BFS_ROUNDS the number of nodes first reached at that
    hop, plus a ``-1`` row for nodes still unreached — the reachability
    / diameter profile of the co-supply graph (how many hops until the
    neighborhood saturates is the mixing-time proxy used to size
    propagation rounds for LPA/PageRank).

    Scale shape: classic frontier BFS — each round is one edges ⋈
    frontier hash join (shuffle keyed on node id, same partitioning
    every round) + an anti-join against the visited set; the frontier
    never exceeds the node count, and ``localCheckpoint`` truncates
    lineage per round exactly like PageRank/LPA/k-core above.  Fixed
    rounds keep the computation declarative and oracle-checkable; a
    convergence-checked variant would stop when the frontier empties.
    """
    und = knn_edges_cached(spark, sf_dir)
    edges = und.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).cache()
    nodes = edges.select(F.col("src").alias("node")).distinct()
    visited = nodes.agg(F.min("node").alias("node")).select(
        "node", F.lit(0).cast("long").alias("dist")
    )
    frontier = visited.select("node")
    for r in range(1, BFS_ROUNDS + 1):
        nxt = (
            edges.join(
                frontier.withColumnRenamed("node", "src"), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint(eager=False)
        )
        # visited stays a lazy union of (checkpointed) frontiers — only
        # the frontier needs materializing, and its isEmpty() doubles as
        # the saturation short-circuit (the skipped rounds contribute
        # nothing: an empty frontier expands to an empty frontier, so
        # the early exit is output-identical to running all rounds).
        if nxt.isEmpty():
            break
        visited = visited.unionByName(
            nxt.select("node", F.lit(r).cast("long").alias("dist"))
        )
        frontier = nxt
    hist = visited.groupBy("dist").agg(F.count(F.lit(1)).alias("n_nodes"))
    unreached = (
        nodes.join(visited.select("node"), "node", "left_anti")
        .groupBy(F.lit(-1).cast("long").alias("dist"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    return hist.unionByName(unreached).orderBy("dist")


def _bfs_oracle() -> str:
    rounds = []
    prev_d = "d0"
    prev_f = "f0"
    for r in range(1, BFS_ROUNDS + 1):
        rounds.append(f"""
        f{r} AS MATERIALIZED (
            SELECT DISTINCT e.dst AS node
            FROM edges e JOIN {prev_f} p ON p.node = e.src
            WHERE e.dst NOT IN (SELECT node FROM {prev_d})
        ),
        d{r} AS MATERIALIZED (
            SELECT node, dist FROM {prev_d}
            UNION ALL SELECT node, {r} FROM f{r}
        )""")
        prev_d, prev_f = f"d{r}", f"f{r}"
    return f"""
        WITH {_edges_sql()},
        d0 AS MATERIALIZED (
            SELECT min(src) AS node, 0 AS dist FROM edges
        ),
        f0 AS (SELECT node FROM d0),
        {",".join(rounds)}
        SELECT CAST(dist AS BIGINT) AS dist,
               CAST(count(*) AS BIGINT) AS n_nodes
        FROM {prev_d} GROUP BY dist
        UNION ALL
        SELECT -1, count(*) FROM (
            SELECT DISTINCT src AS node FROM edges
        ) WHERE node NOT IN (SELECT node FROM {prev_d})
        HAVING count(*) > 0
        ORDER BY dist
    """


QUERIES["graph_bfs_distances"] = bfs_distances
ORACLES["graph_bfs_distances"] = _bfs_oracle()


# --------------------------------------------------- nation modularity

def nation_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assortativity of the co-supply graph by supplier nation: each
    nation's intra-community edge share vs the share its degree mass
    predicts under random wiring — the Newman modularity contribution
    Q_c = e_c/m − (d_c/2m)², plus the graph-level Q repeated on every
    row.  High Q says co-supply is geographically clustered (community
    structure is real); Q ≈ 0 says the KNN graph ignores nation — the
    partition-quality readout LPA's flooding trajectory cannot give.

    Exactness: Q_c·4m² = 4·m·e_c − d_c² is an exact integer per nation
    (and Q·4m² their exact sum) — one double division + round at the
    end.  Scale: two broadcast joins of the supplier→nation dim into
    the edge list, two map-side-combinable aggregates, one window over
    the NATION-count frame (≤ 25 rows); no iteration, no pairwise
    stage.
    """
    und = knn_edges_cached(spark, sf_dir)
    nat = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("node"), F.col("s_nationkey").alias("c")
    )
    lab = und.join(
        F.broadcast(
            nat.select(F.col("node").alias("a"), F.col("c").alias("ca"))
        ),
        "a",
    ).join(
        F.broadcast(
            nat.select(F.col("node").alias("b"), F.col("c").alias("cb"))
        ),
        "b",
    )
    per = (
        lab.select(
            F.explode(F.array("ca", "cb")).alias("c"),
            (F.col("ca") == F.col("cb")).cast("long").alias("intra"),
        )
        .groupBy("c")
        .agg(
            F.count(F.lit(1)).alias("d"),
            (F.sum("intra") / 2).cast("long").alias("e_intra"),
        )
    )
    nodes_per = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .distinct()
        .join(F.broadcast(nat), "node")
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    wall = Window.partitionBy()
    x = (
        per.join(nodes_per, "c")
        # graph total m as a window over the ≤|nations| frame — keeps
        # the family's no-nested-loop plan gate (a 1-row crossJoin
        # compiles to BroadcastNestedLoopJoin)
        .withColumn(
            "m", (F.sum("d").over(wall) / 2).cast("long")
        )
        .withColumn(
            "num",
            4 * F.col("m") * F.col("e_intra") - F.col("d") * F.col("d"),
        )
    )
    return x.select(
        F.col("c").cast("long").alias("nationkey"),
        "n_nodes",
        F.col("d").alias("degree_sum"),
        F.col("e_intra").alias("intra_edges"),
        F.expr(
            "round(CAST(num AS DOUBLE) / (4.0 * m * m), 6)"
        ).alias("contribution"),
        F.round(
            F.sum("num").over(wall).cast("double")
            / (4.0 * F.col("m") * F.col("m")),
            6,
        ).alias("modularity"),
    ).orderBy("nationkey")


def _modularity_oracle() -> str:
    return f"""
        WITH {_edges_sql()},
        nat AS (
            SELECT s_suppkey AS node, s_nationkey AS c FROM supplier
        ),
        lab AS (
            SELECT u.a, u.b, na.c AS ca, nb.c AS cb
            FROM und u
            JOIN nat na ON na.node = u.a
            JOIN nat nb ON nb.node = u.b
        ),
        ends AS (
            SELECT ca AS c, CASE WHEN ca = cb THEN 1 ELSE 0 END AS intra
            FROM lab
            UNION ALL
            SELECT cb, CASE WHEN ca = cb THEN 1 ELSE 0 END FROM lab
        ),
        per AS (
            SELECT c, count(*) AS d, sum(intra) // 2 AS e_intra
            FROM ends GROUP BY 1
        ),
        nodes_per AS (
            SELECT c, count(*) AS n_nodes FROM (
                SELECT DISTINCT node FROM (
                    SELECT a AS node FROM und
                    UNION ALL SELECT b FROM und)
            ) n JOIN nat USING (node) GROUP BY 1
        ),
        mm AS (SELECT sum(d) // 2 AS m FROM per),
        x AS (
            SELECT per.c, n_nodes, d, e_intra,
                   4 * mm.m * e_intra - d * d AS num, mm.m AS m
            FROM per JOIN nodes_per USING (c) CROSS JOIN mm
        )
        SELECT CAST(c AS BIGINT) AS nationkey,
               CAST(n_nodes AS BIGINT) AS n_nodes,
               CAST(d AS BIGINT) AS degree_sum,
               CAST(e_intra AS BIGINT) AS intra_edges,
               round(CAST(num AS DOUBLE) / (4.0 * m * m), 6)
                   AS contribution,
               round(CAST(sum(num) OVER () AS DOUBLE) / (4.0 * m * m), 6)
                   AS modularity
        FROM x ORDER BY nationkey
    """


QUERIES["graph_nation_modularity"] = nation_modularity
ORACLES["graph_nation_modularity"] = _modularity_oracle()


# ---------------------------------------------- degree assortativity

def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-supply graph: the Pearson
    correlation of endpoint degrees over the (both-direction) edge
    list — positive means hubs wire to hubs (assortative, social-graph-
    like), negative means hubs wire to leaves (disassortative, KNN
    graphs usually are).  With [[graph_nation_modularity]] this pins
    WHAT the graph's mixing looks like, not just whether communities
    exist.

    Exactness: degrees are bounded (≤ 2K by construction), so all five
    Pearson moment sums are exact longs; r is one fixed double
    expression at the end.  Scale: one degree aggregate + one join of
    the degree dim back to edges (both keyed on node id) + a 5-long
    reduce — no iteration, no pairwise stage.
    """
    und = knn_edges_cached(spark, sf_dir)
    edges = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    pairs = (
        edges.join(deg.withColumnRenamed("src", "s2"),
                   edges.src == F.col("s2"))
        .select("dst", F.col("d").alias("dx"))
        .join(
            deg.select(F.col("src").alias("dst"), F.col("d").alias("dy")),
            "dst",
        )
        .select("dx", "dy")
    )
    m = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    r = (
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        "        * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))"
    )
    return m.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        F.expr(
            "CAST((2 * sx * 1000000 + n) DIV (2 * n) AS DOUBLE) / 1e6"
        ).alias("mean_degree"),
        F.expr(f"round({r}, 6)").alias("assortativity"),
    )


def _assortativity_oracle() -> str:
    r = (
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        "        * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))"
    )
    return f"""
        WITH {_edges_sql()},
        pairs AS (
            SELECT da.degree AS dx, db.degree AS dy
            FROM edges e
            JOIN deg da ON da.node = e.src
            JOIN deg db ON db.node = e.dst
        ),
        m AS (
            SELECT count(*) AS n, sum(dx) AS sx, sum(dy) AS sy,
                   sum(dx * dy) AS sxy, sum(dx * dx) AS sxx,
                   sum(dy * dy) AS syy
            FROM pairs
        )
        SELECT CAST(n // 2 AS BIGINT) AS n_edges,
               CAST((2 * sx * 1000000 + n) // (2 * n) AS DOUBLE) / 1e6
                   AS mean_degree,
               round({r}, 6) AS assortativity
        FROM m
    """


QUERIES["graph_degree_assortativity"] = degree_assortativity
ORACLES["graph_degree_assortativity"] = _assortativity_oracle()


# -------------------------------------------------- two-hop reach

TWO_HOP_TOP = 100


def two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop neighborhood size per node: |{c : a—b—c}| excluding the
    node itself and its direct neighbors — the friend-of-friend reach
    that drives link-prediction candidate budgets and separates
    connectors from leaf clusters.

    Scale: the KNN edge list is degree-bounded (≤ 2K), so the wedge
    self-join emits ≤ 4K² rows per node — linear in node count; the
    direct-edge exclusion is one anti-join on the same key layout.
    Top-N output for a bounded result.
    """
    und = knn_edges_cached(spark, sf_dir)
    edges = und.selectExpr("a AS src", "b AS dst").unionByName(
        und.selectExpr("b AS src", "a AS dst")
    )
    wedge = (
        edges.alias("e1")
        .join(
            edges.alias("e2"),
            (F.col("e1.dst") == F.col("e2.src"))
            & (F.col("e1.src") != F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("node"), F.col("e2.dst").alias("c")
        )
        .distinct()
    )
    reach = (
        wedge.alias("w")
        .join(
            edges.alias("d"),
            (F.col("w.node") == F.col("d.src"))
            & (F.col("w.c") == F.col("d.dst")),
            "left_anti",
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("two_hop"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    w = Window.orderBy(F.desc("two_hop"), F.asc("node"))
    return (
        reach.join(deg, "node")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TWO_HOP_TOP)
        .select(
            F.col("node").cast("long").alias("node"),
            F.col("degree").cast("long").alias("degree"),
            F.col("two_hop").cast("long").alias("two_hop_reach"),
        )
        .orderBy(F.desc("two_hop_reach"), F.asc("node"))
    )


QUERIES["graph_two_hop_reach"] = two_hop_reach

ORACLES["graph_two_hop_reach"] = f"""
    WITH {_edges_sql()},
    wedge AS (
        SELECT DISTINCT e1.src AS node, e2.dst AS c
        FROM edges e1 JOIN edges e2
          ON e1.dst = e2.src AND e1.src <> e2.dst
    ),
    reach AS (
        SELECT w.node, count(*) AS two_hop
        FROM wedge w
        WHERE NOT EXISTS (
            SELECT 1 FROM edges d
            WHERE d.src = w.node AND d.dst = w.c
        )
        GROUP BY w.node
    ),
    ranked AS (
        SELECT r.node, g.degree, r.two_hop,
               row_number() OVER (ORDER BY r.two_hop DESC, r.node) AS rk
        FROM reach r JOIN deg g ON g.node = r.node
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(degree AS BIGINT) AS degree,
           CAST(two_hop AS BIGINT) AS two_hop_reach
    FROM ranked WHERE rk <= {TWO_HOP_TOP}
    ORDER BY two_hop_reach DESC, node
"""


# --------------------------------------------- edge embeddedness (tie strength)

EMBED_TOP = 20


def edge_embeddedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-overlap (embeddedness) of EXISTING edges: for each
    KNN edge (u,v), the common-neighbor count and the Jaccard overlap
    |N(u)∩N(v)| / |N(u)∪N(v)∖{u,v}| — Granovetter tie strength, top
    EMBED_TOP.  The complement of ``graph_link_prediction`` (which
    scores NON-adjacent pairs): high-overlap edges sit inside
    communities, zero-overlap edges are the bridges a spam/quality
    audit treats differently.

    Same bounded wedge frame as triangles/link-prediction (fan-out ≤
    Σdeg(center)² under the KNN cap); the existing-edge restriction is
    one inner join against the undirected edge list, and the ranking
    key is an exact integer ratio, so the top-k cut is
    engine-deterministic.
    """
    und = knn_edges_cached(spark, sf_dir)
    edges = und.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).cache()
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    wedges = (
        e1.join(
            e2,
            (F.col("e1.src") == F.col("e2.src"))
            & (F.col("e1.dst") < F.col("e2.dst")),
        )
        .groupBy(F.col("e1.dst").alias("u"), F.col("e2.dst").alias("v"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    adj = wedges.join(
        und.withColumnRenamed("a", "u").withColumnRenamed("b", "v"),
        ["u", "v"],
    )
    d1 = deg.withColumnRenamed("node", "u").withColumnRenamed(
        "degree", "du"
    )
    d2 = deg.withColumnRenamed("node", "v").withColumnRenamed(
        "degree", "dv"
    )
    # |N(u)∪N(v)∖{u,v}| = du + dv − common − 2: v ∈ N(u) and u ∈ N(v)
    # are never common neighbors (no self-loops), so both are removed.
    scored = (
        adj.join(d1, "u")
        .join(d2, "v")
        .select(
            "u",
            "v",
            "common",
            (
                F.col("du") + F.col("dv") - F.col("common") - 2
            ).alias("union_n"),
        )
    )
    return (
        scored.select(
            "u",
            "v",
            "common",
            "union_n",
            F.round(F.col("common") / F.col("union_n"), 6).alias(
                "embeddedness"
            ),
        )
        .orderBy(
            (F.col("common") / F.col("union_n")).desc(), "u", "v"
        )
        .limit(EMBED_TOP)
    )


def _embeddedness_oracle() -> str:
    return f"""
        WITH {_edges_sql()},
        wedges AS (
            SELECT e1.dst AS u, e2.dst AS v, count(*) AS common
            FROM edges e1 JOIN edges e2
              ON e1.src = e2.src AND e1.dst < e2.dst
            GROUP BY 1, 2
        ),
        adj AS (
            SELECT w.u, w.v, w.common
            FROM wedges w JOIN und ON und.a = w.u AND und.b = w.v
        ),
        scored AS (
            SELECT a.u, a.v, a.common,
                   d1.degree + d2.degree - a.common - 2 AS union_n
            FROM adj a
            JOIN deg d1 ON d1.node = a.u
            JOIN deg d2 ON d2.node = a.v
        ),
        ranked AS (
            SELECT *,
                   row_number() OVER (ORDER BY common * 1.0 / union_n DESC,
                                      u, v) AS rk
            FROM scored
        )
        SELECT CAST(u AS BIGINT) AS u,
               CAST(v AS BIGINT) AS v,
               CAST(common AS BIGINT) AS common,
               CAST(union_n AS BIGINT) AS union_n,
               round(common * 1.0 / union_n, 6) AS embeddedness
        FROM ranked WHERE rk <= {EMBED_TOP}
        ORDER BY common * 1.0 / union_n DESC, u, v
    """


QUERIES["graph_edge_embeddedness"] = edge_embeddedness
ORACLES["graph_edge_embeddedness"] = _embeddedness_oracle()


# ------------------------------------------ power-law tail fit

def powerlaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-MLE power-law exponent of the degree distribution
    (Clauset-Shalizi-Newman 2009): α = 1 + n / Σ ln(dᵢ/(d_min − ½)),
    fit once over all nodes (d_min = 1) and once over the d ≥ 2 tail —
    the one-row readout that prices hub risk for every operator
    downstream of this graph (α ≤ 2 means the heaviest nodes dominate
    any shuffle keyed on them; [[stats_hill_tail_index]] is the same
    diagnosis for user activity, [[graph_degree_histogram]] the raw
    spectrum this summarizes).

    Exactness: each node's ln(·) freezes to a 1e6 integer BEFORE the
    cross-node sum (the hill/zipf device), so partition order can't
    move the result.  Scale shape: degrees ride the session edge memo;
    the fit is one conditional aggregate over the node-sized frame.
    """
    und = knn_edges_cached(spark, sf_dir)
    edges = und.select(F.col("a").alias("node")).unionByName(
        und.select(F.col("b").alias("node"))
    )
    deg = edges.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    scored = deg.selectExpr(
        "degree",
        # dmin=1: ln(d / 0.5) = ln(2d); dmin=2: ln(d / 1.5)
        "CAST(round(ln(CAST(2 * degree AS DOUBLE)) * 1e6) AS BIGINT)"
        " AS l1",
        "CAST(round(ln(CAST(degree AS DOUBLE) / 1.5) * 1e6) AS BIGINT)"
        " AS l2",
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("degree").alias("d_min"),
        F.max("degree").alias("d_max"),
        F.sum("l1").alias("s1"),
        F.sum(F.when(F.col("degree") >= 2, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("degree") >= 2, F.col("l2")).otherwise(0)).alias(
            "s2"
        ),
    ).selectExpr(
        "CAST(n_nodes AS BIGINT) AS n_nodes",
        "CAST(d_min AS BIGINT) AS d_min",
        "CAST(d_max AS BIGINT) AS d_max",
        "round(1 + n_nodes * 1e6 / CAST(s1 AS DOUBLE), 6)"
        " AS alpha_all",
        "CASE WHEN s2 > 0 THEN"
        " round(1 + n2 * 1e6 / CAST(s2 AS DOUBLE), 6) END"
        " AS alpha_tail2",
    )


QUERIES["graph_powerlaw_alpha"] = powerlaw_alpha

ORACLES["graph_powerlaw_alpha"] = f"""
    WITH {_edges_sql()},
    scored AS (
        SELECT degree,
               CAST(round(ln(CAST(2 * degree AS DOUBLE)) * 1e6)
                    AS BIGINT) AS l1,
               CAST(round(ln(CAST(degree AS DOUBLE) / 1.5) * 1e6)
                    AS BIGINT) AS l2
        FROM deg
    )
    SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(degree) AS BIGINT) AS d_min,
           CAST(max(degree) AS BIGINT) AS d_max,
           round(1 + count(*) * 1e6 / CAST(sum(l1) AS DOUBLE), 6)
               AS alpha_all,
           CASE WHEN sum(CASE WHEN degree >= 2 THEN l2 ELSE 0 END) > 0
           THEN round(1 + sum(CASE WHEN degree >= 2 THEN 1 ELSE 0 END)
                      * 1e6
                      / CAST(sum(CASE WHEN degree >= 2 THEN l2 ELSE 0 END)
                             AS DOUBLE), 6) END AS alpha_tail2
    FROM scored
"""
