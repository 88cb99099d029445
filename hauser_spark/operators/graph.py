"""Dedup cluster canonicalization — connected components over dup pairs.

Pair detectors (exact fingerprint, near-dup Jaccard) emit *edges*; an
actual corpus dedup needs the *transitive closure*: if A≈B and B≈C, all
three are one cluster and exactly one canonical document survives. This
module unions the exact-dup and near-dup edge sets over ``documents``
and computes connected components, labeling every clustered document
with its cluster id (the minimum doc_id in the component — the
canonical survivor).

Spark-side algorithm: iterative min-label propagation with pointer
jumping. Every node starts labeled with itself; each round a node takes
the min of its own and its neighbors' labels (one hop), then rereads
the label of its new label (the jump — halving the remaining distance
to the component min, the same doubling device as Kiveris et al.'s
large-star/small-star contraction, "Connected Components in
MapReduce"); converged when no label changes. Convergence is O(log
diameter) rounds; each round is two shuffle-joins (edges ⋈ labels,
labels ⋈ labels) plus a groupBy-min, all partial-aggregated map-side.
``localCheckpoint`` truncates the growing lineage each round (on a real
cluster, use a reliable ``checkpoint`` dir instead); without it the
plan doubles every iteration and Catalyst analysis time blows up long
before the data does.

The result is deterministic (a converged fixpoint, independent of
iteration order), so it is exactly oracle-checkable: the DuckDB oracle
computes the same components with a recursive CTE (reachability +
min-over-reachable-set), which is feasible at test scale and bit-equal
to the Spark fixpoint.

Reference parity: the reference has no graph surface at all (its only
join-like operator is the schema reconcile, SURVEY §2.6); this is part
of the beyond-reference training-data surface (near-dup clustering is
how MinHash/SimHash pair output actually gets applied to drop rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table
from ..memo import session_memo
from .dedup import jaccard_pairs_frame
from .text import tokens_col

MAX_ITERS = 25


def _exact_dup_edges(docs: DataFrame) -> DataFrame:
    """(d1, d2) star edges: every exact-dup doc → its group-min doc."""
    fp = F.md5(F.concat_ws(" ", tokens_col(F.col("text"))))
    canon = F.min("doc_id").over(Window.partitionBy("fp"))
    return (
        docs.select("doc_id", fp.alias("fp"))
        .select(canon.alias("d1"), F.col("doc_id").alias("d2"))
        .filter(F.col("d1") < F.col("d2"))
    )


def _dup_edges(docs: DataFrame) -> DataFrame:
    """Undirected dup-edge set (src, dst), both directions materialized."""
    near = jaccard_pairs_frame(docs).select("d1", "d2")
    und = near.union(_exact_dup_edges(docs)).distinct()
    return und.select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    ).union(und.select(F.col("d2").alias("src"), F.col("d1").alias("dst")))


def _connected_components(
    edges: DataFrame, with_rounds: bool = False
) -> DataFrame | tuple[DataFrame, int]:
    """(node, label) fixpoint of min-label propagation over (src, dst),
    accelerated with pointer jumping.

    Only nodes incident to an edge participate — exactly the docs that
    are in some dup cluster of size ≥ 2.

    Each round does two monotone steps: (1) neighbor-min propagation
    (labels move one HOP per round), then (2) pointer jumping — every
    node rereads the label OF its label (labels are always node ids of
    the same component, so the lookup is a self-join on the stepped
    label frame).  Jumping halves the remaining distance-to-min each
    round, so convergence is O(log diameter) rounds instead of
    O(diameter) — on a 16-node chain: 4 rounds vs 15 (asserted in
    tests/test_plans.py).  Both steps only ever decrease labels toward
    the component min, and a state stable under propagation alone is
    already the component-min fixpoint, so the result is identical to
    plain min-label.  Cost: one extra |nodes| self-join exchange per
    round, repaid by the round count — every round also carries a
    driver-synchronized collect and a checkpoint barrier, which is the
    actual wall-clock at test scale and a full stage round-trip on a
    cluster."""
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    for rounds in range(1, MAX_ITERS + 1):
        neigh = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        hop = F.least(
            F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
        )
        stepped = labels.join(
            neigh, labels["node"] == neigh["src"], "left"
        ).select(
            "node", hop.alias("label"), F.col("label").alias("__old")
        )
        jump = stepped.select(
            F.col("node").alias("__jn"), F.col("label").alias("__jl")
        )
        jumped = F.coalesce(F.col("__jl"), F.col("label"))
        # carry the convergence flag in the checkpointed frame: the
        # changed-count then reads materialized rows instead of paying
        # another labels⋈labels join per iteration
        new_labels = (
            stepped.join(jump, stepped["label"] == jump["__jn"], "left")
            .select(
                "node",
                jumped.alias("label"),
                (jumped < F.col("__old")).cast("long").alias("__chg"),
            )
            .localCheckpoint(eager=True)
        )
        # coalesce: sum() over an empty frame is NULL, which would never
        # compare equal to 0 and spin the loop to MAX_ITERS on a graph
        # with zero edges
        changed = new_labels.agg(
            F.coalesce(F.sum("__chg"), F.lit(0))
        ).collect()[0][0]
        labels = new_labels.drop("__chg")
        if changed == 0:
            return (labels, rounds) if with_rounds else labels
    raise RuntimeError(
        f"label propagation did not converge in {MAX_ITERS} rounds"
    )


# Session memo for the dup-cluster CC labels: four queries (cluster
# members/sizes, best-of-cluster survivorship, dedup-aware sampling)
# consume the SAME deterministic label frame, and the O(log d)
# pointer-jumping loop is DRIVER-bound (per-round py4j plan builds +
# eager checkpoints measured ~2-3 s per rebuild at sf0.1, vs <1 s of
# actual execution).
@session_memo
def cc_labels_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    return _connected_components(_dup_edges(docs)).localCheckpoint(
        eager=False
    )


def dedup_cluster_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cluster assignment: (doc_id, cluster_id, cluster_size)
    for every doc in a dup cluster, cluster_id = min doc_id (the keeper)."""
    labels = cc_labels_cached(spark, sf_dir)
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labels.join(sizes, "label")
        .select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram — the dedup run's shape at a glance."""
    labels = cc_labels_cached(spark, sf_dir)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


QUERIES = {
    "dedup_cluster_members": dedup_cluster_members,
    "dedup_cluster_sizes": dedup_cluster_sizes,
}

# ------------------------------------------------------------------ oracles
#
# Recursive-CTE reachability: reach(doc_id, r) holds every (node,
# reachable-node) pair; min(r) per node is exactly the min-label
# fixpoint. UNION (set) semantics guarantees termination.

from .dedup import (  # noqa: E402
    _CAPPED_SH_CTE,
    _SHINGLES_CTE,
    JACCARD_THRESHOLD,
)

_TOKS = r"regexp_split_to_array(lower(trim(text)), '\s+')"

# near_edges reads the CAPPED shingle set (shc) — the Spark edge builder
# runs jaccard_pairs_frame with the hot-shingle DF cap, so the oracle
# must model the cap too (ADVICE r2: uncapped oracles only agreed
# because no test-corpus shingle crosses the cap)
_CLUSTERS_CTE = f"""
    {_SHINGLES_CTE},
    {_CAPPED_SH_CTE},
    sizes AS (
        SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id
    ),
    common AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    near_edges AS (
        SELECT d1, d2
        FROM common
        JOIN sizes s1 ON d1 = s1.doc_id
        JOIN sizes s2 ON d2 = s2.doc_id
        WHERE common * 1.0 / (s1.n_sh + s2.n_sh - common)
              >= {JACCARD_THRESHOLD}
    ),
    fps AS (
        SELECT doc_id,
               md5(list_aggregate({_TOKS}, 'string_agg', ' ')) AS fp
        FROM documents
    ),
    exact_edges AS (
        SELECT d1, d2 FROM (
            SELECT min(doc_id) OVER (PARTITION BY fp) AS d1,
                   doc_id AS d2
            FROM fps
        ) WHERE d1 < d2
    ),
    und AS (
        SELECT d1, d2 FROM near_edges
        UNION
        SELECT d1, d2 FROM exact_edges
    ),
    edges AS (
        SELECT d1 AS src, d2 AS dst FROM und
        UNION ALL
        SELECT d2 AS src, d1 AS dst FROM und
    ),
    nodes AS (
        SELECT DISTINCT src AS doc_id FROM edges
    ),
    reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT e.dst, reach.r
        FROM reach JOIN edges e ON e.src = reach.doc_id
    ),
    labels AS (
        SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
    ),
    csizes AS (
        SELECT cluster_id, count(*) AS cluster_size
        FROM labels GROUP BY cluster_id
    )
"""

ORACLES = {
    "dedup_cluster_members": f"""
        WITH RECURSIVE {_CLUSTERS_CTE}
        SELECT l.doc_id, l.cluster_id, c.cluster_size
        FROM labels l JOIN csizes c USING (cluster_id)
        ORDER BY l.doc_id
    """,
    "dedup_cluster_sizes": f"""
        WITH RECURSIVE {_CLUSTERS_CTE}
        SELECT cluster_size, count(*) AS n_clusters
        FROM csizes GROUP BY cluster_size ORDER BY cluster_size
    """,
}
