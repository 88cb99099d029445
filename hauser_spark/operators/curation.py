"""End-to-end training-data curation — the flagship composition.

One declarative pipeline over ``documents`` that chains the curation
stages a pre-training data pipeline runs: quality filters (token floor,
punctuation density, alpha ratio) → exact dedup (md5 fingerprint, keep
the min-id canonical) → near-dup removal (3-gram Jaccard ≥ 0.8, keep the
smaller doc_id of each pair) → verdict per document with the first
failing stage as the reason.

Everything is a single Catalyst plan: the signals are expressions, dedup
is a fingerprint window-min, near-dups reuse the shingle self-join from
``dedup.ngram_jaccard_pairs``. At 100 TB each stage keeps its shuffle
key disjoint (fingerprint, shingle hash) and the final reason joins are
against small drop-lists — broadcastable. The per-doc verdict table is
what a curation run actually ships (audit trail of why every document
was kept or dropped).

Thresholds live in module constants; on the driver's synthetic ASCII
corpus the punctuation/alpha filters are intentionally non-binding
(punct_density is 0 everywhere) — the token floor, exact dups, and the
planted near-dup pairs do the dropping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table
from ..memo import session_memo
from .dedup import lsh_pairs_cached
from .text import tokens_col

MIN_TOKENS = 25
MAX_PUNCT_DENSITY = 0.2
MIN_ALPHA_RATIO = 0.6


# Session memo for the verdict frame: four catalog queries (the verdict
# table, its histogram, the effective-tokens funnel, the shard plan)
# compose on the same quality→exact-dup→near-dup pipeline, and the LSH
# near-dup stage is its expensive leg.
@session_memo
def curate_verdicts_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _curate_build(spark, sf_dir).localCheckpoint(eager=False)


def curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation verdict: kept | low_quality | dup_exact |
    near_dup (first failing stage wins).  Rides the session memo above;
    composition (summary, funnel, shard plan) reads the same frame."""
    return curate_verdicts_cached(spark, sf_dir).orderBy("doc_id")


def _curate_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    n_tok = F.size(toks)
    n_punct = F.regexp_count(F.col("text"), F.lit(r"[^\w\s]"))
    n_alpha = F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]"))
    low_quality = (
        (n_tok < MIN_TOKENS)
        | (n_punct / F.length("text") > MAX_PUNCT_DENSITY)
        | (n_alpha / F.length("text") < MIN_ALPHA_RATIO)
    )

    fp = F.md5(F.concat_ws(" ", toks))
    with_sig = docs.select(
        "doc_id", low_quality.alias("low_quality"), fp.alias("fp")
    )
    canonical = F.min("doc_id").over(Window.partitionBy("fp"))
    with_dup = with_sig.withColumn(
        "dup_exact", F.col("doc_id") != canonical
    )

    # near-dup drop list: the larger doc_id of every Jaccard ≥ τ pair,
    # found via the LSH-verified pair frame (bounded candidates — the
    # scale path; dedup.lsh_pairs_cached session memo).
    near_drop = (
        lsh_pairs_cached(spark, sf_dir)
        .select(F.col("d2").alias("doc_id"))
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )

    verdict = (
        F.when(F.col("low_quality"), "low_quality")
        .when(F.col("dup_exact"), "dup_exact")
        .when(F.coalesce(F.col("near_dup"), F.lit(False)), "near_dup")
        .otherwise("kept")
    )
    # near_drop is corpus-rate (near-dup members) — not broadcastable at
    # 100 TB; keyed on doc_id it shares the doc-grain shuffle
    return with_dup.join(
        near_drop.hint("shuffle_hash"), "doc_id", "left"
    ).select("doc_id", verdict.alias("verdict"))


def curation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verdict histogram — the one-line health check of a curation run."""
    return (
        curate(spark, sf_dir)
        .groupBy("verdict")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("verdict")
    )


QUERIES = {
    "curate_documents": curate,
    "curation_summary": curation_summary,
}

# oracle: same stages in SQL; the near-dup stage embeds the MinHash-LSH
# pipeline SQL (dedup's oracle) — the oracle models what the query runs,
# not the exact all-pairs variant the query deliberately avoids at scale
from .dedup import ORACLES as _DEDUP_ORACLES  # noqa: E402

_CURATE_SQL = f"""
    WITH near_drop AS (
        SELECT DISTINCT d2 AS doc_id
        FROM ({_DEDUP_ORACLES["dedup_minhash_lsh"]})
    ),
    sig AS (
        SELECT doc_id,
               (len({{toks}}) < {MIN_TOKENS}
                OR len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0
                   / length(text) > {MAX_PUNCT_DENSITY}
                OR len(regexp_extract_all(text, '[A-Za-z]')) * 1.0
                   / length(text) < {MIN_ALPHA_RATIO}) AS low_quality,
               md5(list_aggregate({{toks}}, 'string_agg', ' ')) AS fp
        FROM documents
    ),
    with_dup AS (
        SELECT doc_id, low_quality,
               doc_id != MIN(doc_id) OVER (PARTITION BY fp) AS dup_exact
        FROM sig
    )
    SELECT w.doc_id,
           CASE WHEN low_quality THEN 'low_quality'
                WHEN dup_exact THEN 'dup_exact'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'kept' END AS verdict
    FROM with_dup w LEFT JOIN near_drop n ON w.doc_id = n.doc_id
"""

_TOKS = r"regexp_split_to_array(lower(trim(text)), '\s+')"
_CURATE_SQL = _CURATE_SQL.replace("{toks}", _TOKS)

ORACLES = {
    "curate_documents": _CURATE_SQL + " ORDER BY w.doc_id",
    "curation_summary": (
        "WITH curated AS ("
        + _CURATE_SQL
        + ") SELECT verdict, count(*) AS n_docs FROM curated "
        "GROUP BY verdict ORDER BY verdict"
    ),
}


def effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card funnel: per source, raw tokens → tokens
    surviving the quality stage → tokens surviving full curation
    (quality + exact dedup + near-dedup), with the end-to-end retention
    rate.  This is the headline table a training-data release reports
    ("effective tokens by source after curation") and the first thing a
    capacity plan consumes.  Pure composition: the per-doc verdicts are
    ``curate``'s output joined back to the document scan's token
    counts; one per-source rollup on top."""
    docs = load_table(spark, sf_dir, "documents")
    nt = F.when(F.trim("text") == "", 0).otherwise(
        F.size(tokens_col(F.col("text")))
    ).cast("long")
    base = docs.select("doc_id", "source", nt.alias("nt"))
    v = curate(spark, sf_dir).select("doc_id", "verdict")
    j = base.join(v, "doc_id")
    post_q = F.sum(
        F.when(F.col("verdict") != "low_quality", F.col("nt")).otherwise(0)
    )
    cur = F.sum(
        F.when(F.col("verdict") == "kept", F.col("nt")).otherwise(0)
    )
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("raw_tokens"),
            post_q.alias("post_quality_tokens"),
            cur.alias("curated_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "raw_tokens",
            "post_quality_tokens",
            "curated_tokens",
            F.round(
                F.col("curated_tokens") * 1.0 / F.col("raw_tokens"), 6
            ).alias("token_retention"),
        )
        .orderBy("source")
    )


QUERIES["curation_effective_tokens"] = effective_tokens

ORACLES["curation_effective_tokens"] = (
    "WITH curated AS ("
    + _CURATE_SQL
    + f"""),
    t AS (
        SELECT doc_id, source,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len({_TOKS}) END AS nt
        FROM documents
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(t.nt) AS BIGINT) AS raw_tokens,
           CAST(sum(CASE WHEN c.verdict != 'low_quality' THEN t.nt
                         ELSE 0 END) AS BIGINT) AS post_quality_tokens,
           CAST(sum(CASE WHEN c.verdict = 'kept' THEN t.nt
                         ELSE 0 END) AS BIGINT) AS curated_tokens,
           ROUND(sum(CASE WHEN c.verdict = 'kept' THEN t.nt ELSE 0 END)
                 * 1.0 / sum(t.nt), 6) AS token_retention
    FROM t JOIN curated c ON t.doc_id = c.doc_id
    GROUP BY t.source ORDER BY t.source
    """
)


# ---------------------------------------------------- output shard plan

N_SHARDS = 32


def shard_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-shard plan audit: hash-assign every curated-kept document
    to one of N_SHARDS output shards (the write layout of a training
    corpus) and report each shard's doc/token/byte load plus its token
    skew vs the uniform share.

    The last step of a curation run is writing the corpus as N
    balanced shards; a hot shard becomes the straggler of every
    downstream epoch.  Hash sharding on the md5 of doc_id is the
    deterministic, engine-portable assignment; skew is the exact
    integer half-up ratio shard_tokens·N / total_tokens (1.0 = perfect
    balance).  Scale: one map-side expression per doc + one groupBy on
    the shard id — the plan a 100 TB writer runs unchanged, and the
    audit that triggers re-sharding (salting the hot shard or raising
    N) before the write.
    """
    docs = load_table(spark, sf_dir, "documents")
    verdicts = curate(spark, sf_dir).filter(F.col("verdict") == "kept")
    kept = docs.join(verdicts.select("doc_id"), "doc_id", "left_semi")
    sh = kept.select(
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("long"),
            F.lit(N_SHARDS),
        ).alias("shard"),
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_tok"),
        F.col("n_chars").alias("n_bytes"),
    )
    # checkpointed: the N_SHARDS-row rollup feeds both the total and
    # the output projection — without the barrier each reference
    # re-expands (and re-executes) the whole curate() pipeline upstream
    per = (
        sh.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n_bytes").alias("n_bytes"),
        )
        .localCheckpoint(eager=False)
    )
    tot = per.agg(F.sum("n_tokens").alias("t_tok"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            "n_bytes",
            (
                F.expr(
                    f"(2 * n_tokens * {N_SHARDS} * 1000000 + t_tok)"
                    " DIV (2 * t_tok)"
                ).cast("double")
                / 1e6
            ).alias("token_skew"),
        )
        .orderBy("shard")
    )


QUERIES["curation_shard_skew"] = shard_skew


def _shard_skew_oracle() -> str:
    kept_cte = ORACLES["curate_documents"]
    return f"""
        WITH verdicts AS ({kept_cte}),
        kept AS (
            SELECT d.doc_id, d.text, d.n_chars
            FROM documents d
            JOIN verdicts v ON v.doc_id = d.doc_id AND v.verdict = 'kept'
        ),
        sh AS (
            SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                       % {N_SHARDS} AS shard,
                   len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                       AS n_tok,
                   n_chars AS n_bytes
            FROM kept
        ),
        per AS (
            SELECT shard, count(*) AS n_docs, sum(n_tok) AS n_tokens,
                   sum(n_bytes) AS n_bytes
            FROM sh GROUP BY shard
        ),
        tot AS (SELECT sum(n_tokens) AS t_tok FROM per)
        SELECT shard, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_bytes AS BIGINT) AS n_bytes,
               CAST((2 * n_tokens * {N_SHARDS} * 1000000 + t_tok)
                    // (2 * t_tok) AS DOUBLE) / 1e6 AS token_skew
        FROM per CROSS JOIN tot
        ORDER BY shard
    """


ORACLES["curation_shard_skew"] = _shard_skew_oracle()


# --------------------------------------------- quality survivorship

def best_of_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based dup-cluster survivorship: instead of the naive
    keep-the-min-doc_id rule ([[curate_documents]],
    [[dedup_cluster_members]] — where cluster_id IS the min-id keeper),
    each cluster's survivor is its best member by (token count desc,
    integer alpha-density desc, doc_id asc) — "keep the most complete,
    cleanest version", the rule real dedup pipelines ship.  The output
    flags every cluster where the smarter rule disagrees with min-id,
    i.e. exactly the documents the naive rule would have thrown away
    wrongly.

    Exactness: both ranking keys are integers (alpha density in
    micro-units via DIV — positive, so no truncate-vs-floor skew).
    Scale: rides the pointer-jumping CC labels (O(log d) rounds) and a
    per-cluster window — clusters are bounded by construction (the
    LSH-verified edge frame), and the quality projection is one
    expression-only map over the docs dim.
    """
    from .graph import cc_labels_cached

    docs = load_table(spark, sf_dir, "documents")
    labels = cc_labels_cached(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    toks = tokens_col(F.col("text"))
    q = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tok"),
        F.expr(
            "CAST(regexp_count(text, '[A-Za-z]') AS BIGINT) * 1000000"
            " DIV length(text)"
        ).alias("alpha_micro"),
    )
    member = labels.join(q, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_tok"), F.desc("alpha_micro"), F.asc("doc_id")
    )
    ranked = member.withColumn("rk", F.row_number().over(w))
    sizes = member.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        ranked.filter(F.col("rk") == 1)
        .join(sizes, "cluster_id")
        .select(
            "cluster_id",
            "cluster_size",
            F.col("doc_id").alias("survivor_doc_id"),
            F.col("n_tok").alias("survivor_n_tokens"),
            F.col("alpha_micro").alias("survivor_alpha_micro"),
            (F.col("doc_id") != F.col("cluster_id")).alias(
                "beats_min_id_rule"
            ),
        )
        .orderBy("cluster_id")
    )


def _best_of_cluster_oracle() -> str:
    from .graph import _CLUSTERS_CTE

    return f"""
        WITH RECURSIVE {_CLUSTERS_CTE},
        q AS (
            SELECT doc_id,
                   CAST(len(regexp_split_to_array(lower(trim(text)),
                                                  '\\s+')) AS BIGINT)
                       AS n_tok,
                   CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                        AS BIGINT) * 1000000 // length(text)
                       AS alpha_micro
            FROM documents
        ),
        ranked AS (
            SELECT l.cluster_id, l.doc_id, q.n_tok, q.alpha_micro,
                   row_number() OVER (
                       PARTITION BY l.cluster_id
                       ORDER BY q.n_tok DESC, q.alpha_micro DESC,
                                l.doc_id ASC) AS rk
            FROM labels l JOIN q USING (doc_id)
        )
        SELECT r.cluster_id,
               CAST(c.cluster_size AS BIGINT) AS cluster_size,
               r.doc_id AS survivor_doc_id,
               r.n_tok AS survivor_n_tokens,
               r.alpha_micro AS survivor_alpha_micro,
               r.doc_id != r.cluster_id AS beats_min_id_rule
        FROM ranked r JOIN csizes c USING (cluster_id)
        WHERE r.rk = 1
        ORDER BY r.cluster_id
    """


QUERIES["curation_best_of_cluster"] = best_of_cluster
ORACLES["curation_best_of_cluster"] = _best_of_cluster_oracle()


# --------------------------------------------- mixture water-fill

WATERFILL_BUDGET_NUM = 1  # token budget = total_tokens * NUM / DEN
WATERFILL_BUDGET_DEN = 2


def mixture_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-greedy token allocation across sources: rank sources by
    an exact quality signal (alphabetic-character fraction in ppm,
    tie-broken by name), then fill a token budget — half the corpus —
    source by source, fractionally at the boundary.  This is the
    mixture-planning step a pre-training pipeline runs when it must cut
    a corpus to a token target while keeping the best sources whole.

    Everything is exact integer arithmetic: per-source token and
    alpha-char counts, a cumulative window in deterministic order, and
    greatest/least clamping for the boundary source.  Scale: one
    map-side per-source aggregate; the allocation window runs over
    #sources rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(
            F.size(tokens_col(F.col("text"))).cast("long")
        ).alias("tokens"),
        F.sum(
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit("[A-Za-z]"), 0)
            ).cast("long")
        ).alias("alpha_chars"),
        F.sum(F.length("text").cast("long")).alias("chars"),
    )
    scored = per.selectExpr(
        "source",
        "tokens",
        "(2*alpha_chars*1000000 + chars) DIV (2*chars) AS quality_ppm",
    )
    w = Window.orderBy(F.desc("quality_ppm"), F.asc("source")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = per.agg(F.sum("tokens").alias("tt"))
    alloc = (
        scored.withColumn(
            "cum_before", F.coalesce(F.sum("tokens").over(w), F.lit(0))
        )
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "tokens",
            "quality_ppm",
            f"greatest(0L, least(tokens,"
            f" (tt * {WATERFILL_BUDGET_NUM}) DIV {WATERFILL_BUDGET_DEN}"
            f" - cum_before)) AS allocated_tokens",
        )
    )
    return alloc.selectExpr(
        "source",
        "tokens",
        "quality_ppm",
        "allocated_tokens",
        "(2*allocated_tokens*1000000 + tokens) DIV (2*tokens)"
        " AS kept_frac_ppm",
    ).orderBy("source")


QUERIES["curation_mixture_waterfill"] = mixture_waterfill

ORACLES["curation_mixture_waterfill"] = rf"""
    WITH per AS (
        SELECT source,
               CAST(sum(len(regexp_split_to_array(lower(trim(text)),
                                                  '\s+'))) AS BIGINT)
                   AS tokens,
               CAST(sum(len(regexp_extract_all(text, '[A-Za-z]')))
                    AS BIGINT) AS alpha_chars,
               CAST(sum(length(text)) AS BIGINT) AS chars
        FROM documents GROUP BY 1
    ),
    scored AS (
        SELECT source, tokens,
               (2*alpha_chars*1000000 + chars) // (2*chars)
                   AS quality_ppm
        FROM per
    ),
    tot AS (SELECT sum(tokens) AS tt FROM per),
    alloc AS (
        SELECT source, tokens, quality_ppm,
               greatest(0, least(tokens,
                   (tt * {WATERFILL_BUDGET_NUM}) // {WATERFILL_BUDGET_DEN}
                   - COALESCE(sum(tokens) OVER (
                       ORDER BY quality_ppm DESC, source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0))) AS allocated_tokens
        FROM scored CROSS JOIN tot
    )
    SELECT source, tokens, quality_ppm,
           CAST(allocated_tokens AS BIGINT) AS allocated_tokens,
           CAST((2*allocated_tokens*1000000 + tokens) // (2*tokens)
                AS BIGINT) AS kept_frac_ppm
    FROM alloc ORDER BY source
"""


# ------------------------------------------------- language balance

LANG_WEIGHT_CAP_PPM = 3_000_000  # upsampling weight cap (3.0x)


def lang_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix rebalancing table: per language, its token share and
    the capped inverse-share sampling weight that would equalize the
    mix — the multilingual-curation step that decides how much to
    upsample under-represented languages (capped so a rare language is
    never blown up past 3×).

    Exactness: shares are ppm devices over exact token counts; the
    weight is an exact integer min() in ppm units.  Scale: one
    map-side per-language aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(
        F.sum(F.size(tokens_col(F.col("text"))).cast("long")).alias(
            "tokens"
        ),
        F.count(F.lit(1)).alias("n_docs"),
    )
    tot = per.agg(
        F.sum("tokens").alias("tt"), F.count(F.lit(1)).alias("n_langs")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .selectExpr(
            "lang",
            "n_docs",
            "tokens",
            "(2*tokens*1000000 + tt) DIV (2*tt) AS share_ppm",
            # target share = 1/L; weight = min(cap, target/share) in ppm
            f"least(CAST({LANG_WEIGHT_CAP_PPM} AS BIGINT),"
            " (2*tt*1000000 + n_langs*tokens)"
            " DIV (2*n_langs*tokens)) AS weight_ppm",
        )
        .orderBy("lang")
    )


QUERIES["curation_lang_balance"] = lang_balance

ORACLES["curation_lang_balance"] = rf"""
    WITH per AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(regexp_split_to_array(lower(trim(text)),
                                                  '\s+'))) AS BIGINT)
                   AS tokens
        FROM documents GROUP BY 1
    ),
    tot AS (SELECT sum(tokens) AS tt, count(*) AS n_langs FROM per)
    SELECT lang, n_docs, tokens,
           CAST((2*tokens*1000000 + tt) // (2*tt) AS BIGINT)
               AS share_ppm,
           CAST(least({LANG_WEIGHT_CAP_PPM},
                (2*tt*1000000 + n_langs*tokens)
                // (2*n_langs*tokens)) AS BIGINT) AS weight_ppm
    FROM per CROSS JOIN tot ORDER BY lang
"""


# ------------------------------------ temperature-scaled source mixing

TEMP_ALPHA_NUM = 1  # α = 1/2: sampled share ∝ (natural share)^α
TEMP_ALPHA_DEN = 2


def temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source re-weighting — the multilingual /
    multi-source mixing rule (sample share ∝ p^α, here α = 0.5) that
    up-weights small sources and flattens dominant ones before
    training.  Reports, per source: token mass, natural share, the
    temperature-scaled share, and the resulting boost factor.

    Exactness: p^0.5 is a single IEEE ``sqrt`` (correctly rounded —
    no ``pow`` cross-libm risk); each weight is frozen to a 1e9
    integer before the cross-source normalizer sum, so no float
    summation order leaks between engines.  Scale: one token-count
    aggregate per source; everything after is a |sources|-row frame.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(F.size(tokens_col(F.col("text")))).alias("n_tokens")
    )
    tot = per.agg(F.sum("n_tokens").alias("tt"))
    w = per.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "n_tokens",
        "tt",
        "CAST(round(sqrt(CAST(n_tokens AS DOUBLE) / tt) * 1e9)"
        " AS BIGINT) AS wtm",
    )
    z = w.agg(F.sum("wtm").alias("z"))
    return (
        w.crossJoin(F.broadcast(z))
        .selectExpr(
            "source",
            "n_tokens",
            "CAST(round(CAST(n_tokens AS DOUBLE) / tt * 1e6) AS BIGINT)"
            " AS natural_ppm",
            "CAST(round(CAST(wtm AS DOUBLE) / z * 1e6) AS BIGINT)"
            " AS temp_ppm",
            "round((CAST(wtm AS DOUBLE) * tt)"
            " / (CAST(z AS DOUBLE) * n_tokens), 6) AS boost",
        )
        .orderBy("source")
    )


QUERIES["curation_temperature_resample"] = temperature_resample

ORACLES["curation_temperature_resample"] = r"""
    WITH per AS (
        SELECT source,
               CAST(sum(len(regexp_split_to_array(lower(trim(text)),
                                                  '\s+'))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY 1
    ),
    tot AS (SELECT sum(n_tokens) AS tt FROM per),
    w AS (
        SELECT source, n_tokens, t.tt,
               CAST(round(sqrt(CAST(n_tokens AS DOUBLE) / t.tt) * 1e9)
                    AS BIGINT) AS wtm
        FROM per, tot t
    ),
    z AS (SELECT sum(wtm) AS z FROM w)
    SELECT source, n_tokens,
           CAST(round(CAST(n_tokens AS DOUBLE) / tt * 1e6) AS BIGINT)
               AS natural_ppm,
           CAST(round(CAST(wtm AS DOUBLE) / z.z * 1e6) AS BIGINT)
               AS temp_ppm,
           round((CAST(wtm AS DOUBLE) * tt)
                 / (CAST(z.z AS DOUBLE) * n_tokens), 6) AS boost
    FROM w, z ORDER BY source
"""


# ------------------------------------------ DSIR importance weights

DSIR_BUCKETS = 256
DSIR_TARGET_LANG = "en"


# Session memo for the DSIR per-document score frame: the weights
# table and the ESS audit both consume the same doc-grain
# (wnum nano-log-ratio, ntok) frame, whose tokenize->hash->count
# pipeline is the family's CPU leg.
@session_memo
def dsir_doc_scores_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, wnum, ntok): per-document DSIR total nano-unit
    log-likelihood ratio (order-free integer dot product of bucket
    counts with the frozen bucket model) and token count."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(tokens_col(F.col("text"))).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        F.pmod(
            F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long"),
            F.lit(DSIR_BUCKETS),
        ).alias("b"),
    )
    cdb = (
        toks.groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    buckets = cdb.groupBy("b").agg(
        F.sum("c").alias("cq"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("c")).otherwise(
                0
            )
        ).alias("ct"),
    )
    wall = Window.partitionBy()
    lr = (
        buckets.withColumn("nq", F.sum("cq").over(wall))
        .withColumn("nt", F.sum("ct").over(wall))
        .selectExpr(
            "b",
            "CAST(round(ln(CAST(ct + 1 AS DOUBLE)"
            f" * (nq + {DSIR_BUCKETS})"
            " / (CAST(cq + 1 AS DOUBLE)"
            f" * (nt + {DSIR_BUCKETS}))) * 1e9) AS BIGINT) AS lrn",
        )
    )
    return (
        cdb.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.expr("c * lrn")).alias("wnum"),
            F.sum("c").alias("ntok"),
        )
        .localCheckpoint(eager=False)
    )


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Data Selection via Importance Resampling, Xie et al. 2023)
    importance weights with hashed unigram features: every document
    gets the log-likelihood ratio of a target-domain token model vs the
    whole-corpus model, computed over ``DSIR_BUCKETS`` hashed feature
    buckets — the standard recipe for "select pretraining data that
    looks like the target domain" (target here: the ``en`` slice).
    Reported per language: the mean per-token log ratio and the share
    of documents a DSIR resampler would up-weight (positive ratio) —
    the target language must surface on top, other languages below.

    Exactness: bucket log-ratios are add-one-smoothed exact-integer
    quotients passed through ONE ln and frozen to nano-units, so every
    per-document score is an order-free integer dot product (no double
    summation order anywhere); per-language means divide two exact
    longs.  Scale: the doc×bucket count matrix is built once and
    checkpointed (it IS the DSIR feature matrix a real run
    materializes), the 256-row bucket model broadcasts, and nothing
    token-grain is ever joined.
    """
    per_doc = dsir_doc_scores_cached(spark, sf_dir)
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").alias("n_tokens"),
            F.sum("wnum").alias("swn"),
            F.sum((F.col("wnum") > 0).cast("long")).alias("npos"),
        )
        .selectExpr(
            "lang",
            "CAST(n_docs AS BIGINT) AS n_docs",
            "CAST(n_tokens AS BIGINT) AS n_tokens",
            "round(CAST(swn AS DOUBLE) / n_tokens / 1e9, 6)"
            " AS mean_loglik_ratio",
            "(2 * npos * 1000000 + n_docs) DIV (2 * n_docs)"
            " AS upweighted_ppm",
        )
        .orderBy("lang")
    )


QUERIES["curation_dsir_weights"] = dsir_weights

ORACLES["curation_dsir_weights"] = f"""
    WITH toks AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(tok), 1, 15))::BIGINT % {DSIR_BUCKETS}
                   AS b
        FROM (SELECT doc_id, lang,
                     unnest(regexp_split_to_array(lower(trim(text)),
                                                  '\\s+')) AS tok
              FROM documents)
    ),
    cdb AS MATERIALIZED (
        SELECT doc_id, lang, b, count(*) AS c FROM toks GROUP BY 1, 2, 3
    ),
    buckets AS (
        SELECT b, sum(c) AS cq,
               sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN c
                        ELSE 0 END) AS ct
        FROM cdb GROUP BY b
    ),
    tot AS (SELECT sum(cq) AS nq, sum(ct) AS nt FROM buckets),
    lr AS (
        SELECT b,
               CAST(round(ln(CAST(ct + 1 AS DOUBLE)
                   * (nq + {DSIR_BUCKETS})
                   / (CAST(cq + 1 AS DOUBLE)
                   * (nt + {DSIR_BUCKETS}))) * 1e9) AS BIGINT) AS lrn
        FROM buckets, tot
    ),
    per_doc AS (
        SELECT doc_id, lang, sum(c * lrn) AS wnum, sum(c) AS ntok
        FROM cdb JOIN lr USING (b) GROUP BY 1, 2
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS n_tokens,
           round(CAST(sum(wnum) AS DOUBLE) / sum(ntok) / 1e9, 6)
               AS mean_loglik_ratio,
           CAST((2 * sum(CASE WHEN wnum > 0 THEN 1 ELSE 0 END) * 1000000
                 + count(*)) // (2 * count(*)) AS BIGINT)
               AS upweighted_ppm
    FROM per_doc GROUP BY lang ORDER BY lang
"""


# -------------------------------- dup × quality contingency

def dup_quality_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are duplicates disproportionately low-quality?  The 2×2
    contingency between the INDEPENDENT per-doc flags (duplicate
    member: in a normalized-text fingerprint group of size > 1 OR a
    side of a verified MinHash-LSH near-dup pair; low-quality: the
    curate() rule set) with the low-quality-rate lift and the χ² of
    independence — the one-row readout that decides whether a pipeline
    may run quality filtering and dedup in either order (independent)
    or must dedup first (dups skew low-quality, so quality-filter
    sampling would be biased).  ``curate()`` can't answer this: its
    first-fail verdict records only ONE reason per doc.

    Scale shape: one scan, one window on the fingerprint (the
    ``exact_dedup`` shuffle), the bounded LSH pair frame broadcast as
    a membership list, one 1-row aggregate.  χ² keeps the (ad−bc)
    determinant in exact BIGINT and squares/divides in DOUBLE in one
    fixed textual order; margins are cast to DOUBLE before the 4-way
    product, which overflows BIGINT at ~64× replication.

    Scan fanned out before the tokenize/regex flag pass
    (single-row-group input, guide §2.5 — measured as this query's
    dominant 5-task stage).
    """
    from ..tables import fanout_small_scan

    docs = fanout_small_scan(
        load_table(spark, sf_dir, "documents"), spark
    )
    toks = tokens_col(F.col("text"))
    n_tok = F.size(toks)
    n_punct = F.regexp_count(F.col("text"), F.lit(r"[^\w\s]"))
    n_alpha = F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]"))
    # length guard FIRST (lazy CASE): an empty/NULL text is trivially
    # low-quality in BOTH engines — without it Spark's x/0 yields NULL
    # (the row silently leaves the contingency sums) while DuckDB's
    # 1.0/0 yields inf > threshold ⇒ lq=1, a cross-engine divergence.
    # Mirrored in the oracle's flagged CTE.
    low_quality = F.when(
        F.col("text").isNull() | (F.length("text") == 0), F.lit(1)
    ).otherwise(
        (
            (n_tok < MIN_TOKENS)
            | (n_punct / F.length("text") > MAX_PUNCT_DENSITY)
            | (n_alpha / F.length("text") < MIN_ALPHA_RATIO)
        ).cast("int")
    )
    fp = F.md5(F.concat_ws(" ", toks))
    # explode both pair sides from ONE reference to the LSH pair memo
    near_members = (
        lsh_pairs_cached(spark, sf_dir)
        .selectExpr("explode(array(d1, d2)) AS doc_id")
        .distinct()
        .withColumn("near", F.lit(1))
    )
    flagged = (
        docs.select(
            "doc_id", low_quality.cast("long").alias("lq"), fp.alias("fp")
        )
        .withColumn(
            "exact_dup",
            (F.count(F.lit(1)).over(Window.partitionBy("fp")) > 1)
            .cast("long"),
        )
        # near_members is near-dup-membership grain — a corpus-rate
        # fraction of ALL docs at 100 TB, not broadcastable; keyed on
        # doc_id it rides the same shuffle as the flagged frame
        .join(near_members.hint("shuffle_hash"), "doc_id", "left")
        .selectExpr(
            "lq",
            "CAST(exact_dup = 1 OR near IS NOT NULL AS LONG) AS dup",
        )
    )
    one = flagged.agg(
        F.sum(F.expr("dup * lq")).alias("a"),
        F.sum(F.expr("dup * (1 - lq)")).alias("b"),
        F.sum(F.expr("(1 - dup) * lq")).alias("c"),
        F.sum(F.expr("(1 - dup) * (1 - lq)")).alias("d"),
    )
    return one.selectExpr(
        "CAST(a + b + c + d AS BIGINT) AS n_docs",
        "CAST(a + b AS BIGINT) AS n_dup",
        "CAST(a + c AS BIGINT) AS n_lowq",
        "CAST(a AS BIGINT) AS n_dup_lowq",
        "CASE WHEN a + b = 0 THEN NULL ELSE"
        " (2 * a * 1000000 + (a + b)) DIV (2 * (a + b)) END"
        " AS dup_lowq_rate_ppm",
        "CASE WHEN c + d = 0 THEN NULL ELSE"
        " (2 * c * 1000000 + (c + d)) DIV (2 * (c + d)) END"
        " AS uniq_lowq_rate_ppm",
        "CASE WHEN a + b = 0 OR c + d = 0 OR c = 0 THEN NULL ELSE"
        " CAST(round((CAST(a AS DOUBLE) / (a + b))"
        " / (CAST(c AS DOUBLE) / (c + d)) * 1000000) AS BIGINT) END"
        " AS lift_ppm",
        "CASE WHEN a + b = 0 OR c + d = 0 OR a + c = 0 OR b + d = 0"
        " THEN NULL ELSE"
        " CAST(round((a + b + c + d)"
        " * (CAST(a * d - b * c AS DOUBLE)"
        "    * CAST(a * d - b * c AS DOUBLE))"
        " / (CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d))"
        " * 1e9) AS BIGINT) END AS chi2_nano",
    )


QUERIES["curation_dup_quality_contingency"] = dup_quality_contingency

ORACLES["curation_dup_quality_contingency"] = f"""
    WITH near_members AS (
        SELECT DISTINCT doc_id FROM (
            SELECT d1 AS doc_id
            FROM ({_DEDUP_ORACLES["dedup_minhash_lsh"]})
            UNION ALL
            SELECT d2 AS doc_id
            FROM ({_DEDUP_ORACLES["dedup_minhash_lsh"]})
        )
    ),
    flagged AS (
        SELECT doc_id,
               -- length guard first: empty/NULL text is trivially
               -- low-quality (see the Spark-side contract note)
               CASE WHEN text IS NULL OR length(text) = 0 THEN 1
                    WHEN len({_TOKS}) < {MIN_TOKENS}
                     OR len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0
                        / length(text) > {MAX_PUNCT_DENSITY}
                     OR len(regexp_extract_all(text, '[A-Za-z]')) * 1.0
                        / length(text) < {MIN_ALPHA_RATIO}
               THEN 1 ELSE 0 END AS lq,
               md5(list_aggregate({_TOKS}, 'string_agg', ' ')) AS fp
        FROM documents
    ),
    dupd AS (
        SELECT lq,
               CASE WHEN count(*) OVER (PARTITION BY fp) > 1
                     OR f.doc_id IN (SELECT doc_id FROM near_members)
                   THEN 1 ELSE 0 END AS dup
        FROM flagged f
    ),
    cells AS (
        SELECT sum(dup * lq) AS a, sum(dup * (1 - lq)) AS b,
               sum((1 - dup) * lq) AS c, sum((1 - dup) * (1 - lq)) AS d
        FROM dupd
    )
    SELECT CAST(a + b + c + d AS BIGINT) AS n_docs,
           CAST(a + b AS BIGINT) AS n_dup,
           CAST(a + c AS BIGINT) AS n_lowq,
           CAST(a AS BIGINT) AS n_dup_lowq,
           CAST(CASE WHEN a + b = 0 THEN NULL ELSE
               (2 * a * 1000000 + (a + b)) // (2 * (a + b)) END
               AS BIGINT) AS dup_lowq_rate_ppm,
           CAST(CASE WHEN c + d = 0 THEN NULL ELSE
               (2 * c * 1000000 + (c + d)) // (2 * (c + d)) END
               AS BIGINT) AS uniq_lowq_rate_ppm,
           CASE WHEN a + b = 0 OR c + d = 0 OR c = 0 THEN NULL ELSE
               CAST(round((CAST(a AS DOUBLE) / (a + b))
               / (CAST(c AS DOUBLE) / (c + d)) * 1000000) AS BIGINT) END
               AS lift_ppm,
           CASE WHEN a + b = 0 OR c + d = 0 OR a + c = 0 OR b + d = 0
           THEN NULL ELSE
               CAST(round((a + b + c + d)
               * (CAST(a * d - b * c AS DOUBLE)
                  * CAST(a * d - b * c AS DOUBLE))
               / (CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d))
               * 1e9) AS BIGINT) END AS chi2_nano
    FROM cells
"""


# ------------------------------------------------ per-source dataset card

from .decontam import (  # noqa: E402
    BENCH_SETS,
    CONTAM_DEN,
    CONTAM_NUM,
    _SH5_CTE,
)


def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source DATASET CARD — the curation surface's capstone: one
    row per source composing every release-gating readout this catalog
    computes piecemeal into the single table a data release's
    "datasheet" section prints.  Per source: volume (docs, raw tokens),
    language mix (distinct langs, majority lang), tokenizer fertility
    (chars per token — the ASCII fixture's stand-in for bytes/token,
    same readout as text's per-lang fertility), the curation verdict
    mix (kept / low_quality / dup_exact / near_dup from the quality →
    exact-dedup → near-dedup pipeline), effective curated tokens with
    the retention rate, and benchmark contamination (docs crossing the
    flag threshold against ANY suite, as a count and half-add ppm).

    Pure composition — the whole point: the verdicts ride the session
    memo ([[curate_verdicts_cached]], shared with the summary / funnel
    / shard-plan queries), the contamination flags re-run
    ``decontam_matrix``'s broadcast-index scan collapsed to doc grain,
    and the language/fertility columns are one scan of ``documents``.

    Scale shape: the verdict and contamination frames are CORPUS-RATE
    doc-grain — never broadcast; both joins are shuffle_hash-pinned on
    doc_id and share the doc-grain shuffle.  Each benchmark index
    broadcasts (KB-scale by construction — decontam_matrix's
    contract).  Rollups are |sources|-grain; the language table is
    |sources| x |langs| and broadcasts into the final spine join.
    Arithmetic: counts exact; ratios half-add ppm or one round-6
    double division — both engines agree bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    nt = (
        F.when(F.trim("text") == "", 0)
        .otherwise(F.size(tokens_col(F.col("text"))))
        .cast("long")
    )
    base = docs.select(
        "doc_id",
        "source",
        "lang",
        nt.alias("nt"),
        F.length("text").cast("long").alias("nc"),
    )
    v = curate_verdicts_cached(spark, sf_dir)

    # contamination flags: the memoized 5-gram frame serves every suite
    # AND the three sibling decontam queries; each suite's tiny
    # distinct-shingle index broadcasts and map-side joins the training
    # stream (decontam_matrix's scale contract)
    from .decontam import sh5_cached

    sh = sh5_cached(spark, sf_dir)
    flags = None
    for _bname, mod in BENCH_SETS:
        is_b = F.col("doc_id") % mod == 0
        bidx = sh.filter(is_b).select("sh").distinct()
        f_b = (
            sh.filter(~is_b)
            .join(F.broadcast(bidx), "sh")
            .groupBy("doc_id", "n_sh")
            .agg(F.count(F.lit(1)).alias("n_hit"))
            .filter(
                F.col("n_hit") * CONTAM_DEN >= F.col("n_sh") * CONTAM_NUM
            )
            .select("doc_id")
        )
        flags = f_b if flags is None else flags.unionByName(f_b)
    flagged = flags.distinct().withColumn("contam", F.lit(1))

    # both right sides are corpus-rate doc-grain frames whose memo /
    # hit-join lineage under-reports size — never broadcast (the r4
    # OOM class); pinned, they ride one doc_id-keyed shuffle
    j = base.join(v.hint("shuffle_hash"), "doc_id").join(
        flagged.hint("shuffle_hash"), "doc_id", "left"
    )
    per = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("raw_tokens"),
        F.sum("nc").alias("raw_chars"),
        F.sum((F.col("verdict") == "kept").cast("long")).alias("n_kept"),
        F.sum((F.col("verdict") == "low_quality").cast("long")).alias(
            "n_low_quality"
        ),
        F.sum((F.col("verdict") == "dup_exact").cast("long")).alias(
            "n_dup_exact"
        ),
        F.sum((F.col("verdict") == "near_dup").cast("long")).alias(
            "n_near_dup"
        ),
        F.sum(
            F.when(F.col("verdict") == "kept", F.col("nt")).otherwise(0)
        ).alias("curated_tokens"),
        F.sum(F.coalesce(F.col("contam"), F.lit(0))).alias(
            "n_contaminated"
        ),
    )
    lc = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    lt = (
        lc.withColumn(
            "mc", F.max("c").over(Window.partitionBy("source"))
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_langs"),
            F.min(
                F.when(F.col("c") == F.col("mc"), F.col("lang"))
            ).alias("top_lang"),
        )
    )
    return (
        per.join(F.broadcast(lt), "source")
        .selectExpr(
            "source",
            "CAST(n_docs AS BIGINT) AS n_docs",
            "CAST(raw_tokens AS BIGINT) AS raw_tokens",
            "CAST(n_langs AS BIGINT) AS n_langs",
            "top_lang",
            "CASE WHEN raw_tokens = 0 THEN NULL ELSE"
            " (2 * raw_chars * 1000000 + raw_tokens)"
            " DIV (2 * raw_tokens) END AS chars_per_token_ppm",
            "CAST(n_kept AS BIGINT) AS n_kept",
            "CAST(n_low_quality AS BIGINT) AS n_low_quality",
            "CAST(n_dup_exact AS BIGINT) AS n_dup_exact",
            "CAST(n_near_dup AS BIGINT) AS n_near_dup",
            "CAST(curated_tokens AS BIGINT) AS curated_tokens",
            "CASE WHEN raw_tokens = 0 THEN NULL ELSE"
            " round(CAST(curated_tokens AS DOUBLE) / raw_tokens, 6)"
            " END AS token_retention",
            "CAST(n_contaminated AS BIGINT) AS n_contaminated",
            "(2 * n_contaminated * 1000000 + n_docs)"
            " DIV (2 * n_docs) AS contam_ppm",
        )
        .orderBy("source")
    )


QUERIES["curation_dataset_card"] = dataset_card


def _dataset_card_oracle() -> str:
    per_suite = " UNION ALL ".join(
        f"""SELECT h.doc_id FROM (
            SELECT s.doc_id, z.n_sh, count(*) AS n_hit
            FROM sh s
            JOIN (SELECT DISTINCT sh FROM sh
                  WHERE doc_id % {mod} = 0) b ON s.sh = b.sh
            JOIN sizes z ON s.doc_id = z.doc_id
            WHERE s.doc_id % {mod} <> 0
            GROUP BY s.doc_id, z.n_sh
        ) h WHERE h.n_hit * {CONTAM_DEN} >= h.n_sh * {CONTAM_NUM}"""
        for _bname, mod in BENCH_SETS
    )
    return f"""
    WITH {_SH5_CTE},
    curated AS ({_CURATE_SQL}),
    contam AS (
        SELECT DISTINCT doc_id FROM ({per_suite})
    ),
    t AS (
        SELECT doc_id, source, lang,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len({_TOKS}) END AS nt,
               length(text) AS nc
        FROM documents
    ),
    lt AS (
        SELECT source, count(*) AS n_langs,
               min(CASE WHEN c = mc THEN lang END) AS top_lang
        FROM (SELECT source, lang, count(*) AS c,
                     max(count(*)) OVER (PARTITION BY source) AS mc
              FROM documents GROUP BY source, lang)
        GROUP BY source
    ),
    per AS (
        SELECT t.source,
               count(*) AS n_docs,
               sum(t.nt) AS raw_tokens,
               sum(t.nc) AS raw_chars,
               sum(CASE WHEN c.verdict = 'kept' THEN 1 ELSE 0 END)
                   AS n_kept,
               sum(CASE WHEN c.verdict = 'low_quality' THEN 1 ELSE 0 END)
                   AS n_low_quality,
               sum(CASE WHEN c.verdict = 'dup_exact' THEN 1 ELSE 0 END)
                   AS n_dup_exact,
               sum(CASE WHEN c.verdict = 'near_dup' THEN 1 ELSE 0 END)
                   AS n_near_dup,
               sum(CASE WHEN c.verdict = 'kept' THEN t.nt ELSE 0 END)
                   AS curated_tokens,
               sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS n_contaminated
        FROM t JOIN curated c ON t.doc_id = c.doc_id
        LEFT JOIN contam f ON t.doc_id = f.doc_id
        GROUP BY t.source
    )
    SELECT p.source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(raw_tokens AS BIGINT) AS raw_tokens,
           CAST(n_langs AS BIGINT) AS n_langs,
           top_lang,
           CASE WHEN raw_tokens = 0 THEN NULL ELSE
               CAST((2 * raw_chars * 1000000 + raw_tokens)
                    // (2 * raw_tokens) AS BIGINT)
           END AS chars_per_token_ppm,
           CAST(n_kept AS BIGINT) AS n_kept,
           CAST(n_low_quality AS BIGINT) AS n_low_quality,
           CAST(n_dup_exact AS BIGINT) AS n_dup_exact,
           CAST(n_near_dup AS BIGINT) AS n_near_dup,
           CAST(curated_tokens AS BIGINT) AS curated_tokens,
           CASE WHEN raw_tokens = 0 THEN NULL ELSE
               round(CAST(curated_tokens AS DOUBLE) / raw_tokens, 6)
           END AS token_retention,
           CAST(n_contaminated AS BIGINT) AS n_contaminated,
           CAST((2 * n_contaminated * 1000000 + n_docs)
                // (2 * n_docs) AS BIGINT) AS contam_ppm
    FROM per p JOIN lt ON p.source = lt.source
    ORDER BY p.source
    """


ORACLES["curation_dataset_card"] = _dataset_card_oracle()


# ------------------------------------------ stage-order what-if audit



def stage_order_whatif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-design what-if: run the SAME three curation stages as a
    real cascade under the two orderings a pipeline owner actually
    debates — quality-before-dedup (this catalog's default) vs
    dedup-before-quality (what dedup-first pipelines like CCNet do) —
    and report each ordering's stage attribution and final kept count.
    The orderings genuinely differ, not just in attribution: with
    quality first, the exact-dup canonical is the min-id among docs
    that SURVIVED quality (a group whose canonical is low-quality
    promotes its next member); with dedup first, low-quality canonical
    docs survive dedup and are then dropped by quality — their dup
    groups die entirely.  Near-dedup drops the d2 side of a verified
    pair only when BOTH endpoints survived the earlier stages, so the
    pair graph is re-gated per ordering (same verified pair frame —
    the LSH scale path — no re-banding).

    Scale shape: one doc scan builds (lq, fp); canonicals are
    fp-window minimums (fingerprint-keyed shuffle); each ordering
    re-gates the bounded pair frame with two doc-grain semi-joins
    (shuffle_hash-pinned); output is 2 rows.  Integer counts; kept
    share as half-add ppm."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    n_tok = F.size(toks)
    n_punct = F.regexp_count(F.col("text"), F.lit(r"[^\w\s]"))
    n_alpha = F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]"))
    lq = (
        (n_tok < MIN_TOKENS)
        | (n_punct / F.length("text") > MAX_PUNCT_DENSITY)
        | (n_alpha / F.length("text") < MIN_ALPHA_RATIO)
    )
    sig = docs.select(
        "doc_id",
        lq.alias("lq"),
        F.md5(F.concat_ws(" ", toks)).alias("fp"),
    ).cache()  # read by both orderings' canonical windows
    pairs = lsh_pairs_cached(spark, sf_dir).select("d1", "d2")
    wfp = Window.partitionBy("fp")

    def near_drops(surv: DataFrame) -> DataFrame:
        s1 = surv.selectExpr("doc_id AS d1")
        s2 = surv.selectExpr("doc_id AS d2")
        return (
            pairs.join(s1.hint("shuffle_hash"), "d1")
            .join(s2.hint("shuffle_hash"), "d2")
            .select(F.col("d2").alias("doc_id"))
            .distinct()
            .withColumn("near", F.lit(1))
        )

    def rollup(att: DataFrame, label: str) -> DataFrame:
        return att.agg(
            F.lit(label).alias("ordering"),
            F.sum((F.col("v") == "low_quality").cast("long")).alias(
                "n_low_quality"
            ),
            F.sum((F.col("v") == "dup_exact").cast("long")).alias(
                "n_dup_exact"
            ),
            F.sum((F.col("v") == "near_dup").cast("long")).alias(
                "n_near_dup"
            ),
            F.sum((F.col("v") == "kept").cast("long")).alias("n_kept"),
            F.count(F.lit(1)).alias("n_docs"),
        )

    # quality first: canonical = min id among quality survivors
    canon_q = F.min(
        F.when(~F.col("lq"), F.col("doc_id"))
    ).over(wfp)
    qf = sig.withColumn(
        "dup",
        ~F.col("lq") & (F.col("doc_id") != canon_q),
    )
    qf_surv = qf.filter(~F.col("lq") & ~F.col("dup")).select("doc_id")
    qf_att = qf.join(
        near_drops(qf_surv).hint("shuffle_hash"), "doc_id", "left"
    ).select(
        F.when(F.col("lq"), "low_quality")
        .when(F.col("dup"), "dup_exact")
        .when(F.col("near").isNotNull(), "near_dup")
        .otherwise("kept")
        .alias("v")
    )

    # dedup first: canonical = min id over the whole group
    df_ = sig.withColumn(
        "dup", F.col("doc_id") != F.min("doc_id").over(wfp)
    )
    df_surv = df_.filter(~F.col("dup")).select("doc_id")
    df_att = df_.join(
        near_drops(df_surv).hint("shuffle_hash"), "doc_id", "left"
    ).select(
        F.when(F.col("dup"), "dup_exact")
        .when(F.col("near").isNotNull(), "near_dup")
        .when(F.col("lq"), "low_quality")
        .otherwise("kept")
        .alias("v")
    )

    return (
        rollup(qf_att, "quality_first")
        .unionByName(rollup(df_att, "dedup_first"))
        .selectExpr(
            "ordering",
            "CAST(n_low_quality AS BIGINT) AS n_low_quality",
            "CAST(n_dup_exact AS BIGINT) AS n_dup_exact",
            "CAST(n_near_dup AS BIGINT) AS n_near_dup",
            "CAST(n_kept AS BIGINT) AS n_kept",
            "(2 * n_kept * 1000000 + n_docs) DIV (2 * n_docs)"
            " AS kept_ppm",
        )
        .orderBy("ordering")
    )


QUERIES["curation_stage_order_whatif"] = stage_order_whatif


def _stage_order_oracle() -> str:
    return f"""
    WITH pairs AS (
        SELECT d1, d2 FROM ({_DEDUP_ORACLES["dedup_minhash_lsh"]})
    ),
    sig AS (
        SELECT doc_id,
               (len({_TOKS}) < {MIN_TOKENS}
                OR len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0
                   / length(text) > {MAX_PUNCT_DENSITY}
                OR len(regexp_extract_all(text, '[A-Za-z]')) * 1.0
                   / length(text) < {MIN_ALPHA_RATIO}) AS lq,
               md5(list_aggregate({_TOKS}, 'string_agg', ' ')) AS fp
        FROM documents
    ),
    qf AS (
        SELECT s.*,
               NOT lq AND doc_id != min(CASE WHEN NOT lq THEN doc_id END)
                   OVER (PARTITION BY fp) AS dup
        FROM sig s
    ),
    qf_surv AS (
        SELECT doc_id FROM qf WHERE NOT lq AND NOT coalesce(dup, FALSE)
    ),
    qf_near AS (
        SELECT DISTINCT p.d2 AS doc_id FROM pairs p
        WHERE p.d1 IN (SELECT doc_id FROM qf_surv)
          AND p.d2 IN (SELECT doc_id FROM qf_surv)
    ),
    qf_att AS (
        SELECT CASE WHEN q.lq THEN 'low_quality'
                    WHEN coalesce(q.dup, FALSE) THEN 'dup_exact'
                    WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                    ELSE 'kept' END AS v
        FROM qf q LEFT JOIN qf_near n ON q.doc_id = n.doc_id
    ),
    df AS (
        SELECT s.*,
               doc_id != min(doc_id) OVER (PARTITION BY fp) AS dup
        FROM sig s
    ),
    df_surv AS (SELECT doc_id FROM df WHERE NOT dup),
    df_near AS (
        SELECT DISTINCT p.d2 AS doc_id FROM pairs p
        WHERE p.d1 IN (SELECT doc_id FROM df_surv)
          AND p.d2 IN (SELECT doc_id FROM df_surv)
    ),
    df_att AS (
        SELECT CASE WHEN d.dup THEN 'dup_exact'
                    WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                    WHEN d.lq THEN 'low_quality'
                    ELSE 'kept' END AS v
        FROM df d LEFT JOIN df_near n ON d.doc_id = n.doc_id
    ),
    rolled AS (
        SELECT 'quality_first' AS ordering,
               sum(CASE WHEN v = 'low_quality' THEN 1 ELSE 0 END)
                   AS n_low_quality,
               sum(CASE WHEN v = 'dup_exact' THEN 1 ELSE 0 END)
                   AS n_dup_exact,
               sum(CASE WHEN v = 'near_dup' THEN 1 ELSE 0 END)
                   AS n_near_dup,
               sum(CASE WHEN v = 'kept' THEN 1 ELSE 0 END) AS n_kept,
               count(*) AS n_docs
        FROM qf_att
        UNION ALL
        SELECT 'dedup_first',
               sum(CASE WHEN v = 'low_quality' THEN 1 ELSE 0 END),
               sum(CASE WHEN v = 'dup_exact' THEN 1 ELSE 0 END),
               sum(CASE WHEN v = 'near_dup' THEN 1 ELSE 0 END),
               sum(CASE WHEN v = 'kept' THEN 1 ELSE 0 END),
               count(*)
        FROM df_att
    )
    SELECT ordering,
           CAST(n_low_quality AS BIGINT) AS n_low_quality,
           CAST(n_dup_exact AS BIGINT) AS n_dup_exact,
           CAST(n_near_dup AS BIGINT) AS n_near_dup,
           CAST(n_kept AS BIGINT) AS n_kept,
           CAST((2 * n_kept * 1000000 + n_docs) // (2 * n_docs)
                AS BIGINT) AS kept_ppm
    FROM rolled ORDER BY ordering
    """


ORACLES["curation_stage_order_whatif"] = _stage_order_oracle()


# ------------------------------------------------ DSIR ESS audit

#: log-weight clip (the DSIR paper's weight clipping): bounds the milli
#: integer weight at e^6*1e3 ≈ 4.0e5, keeping Σw² inside LONG up to
#: ~10⁹ documents per group
DSIR_LOG_CLIP = 6.0


def dsir_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size of the DSIR importance weights, per
    language: ESS = (Σw)² / Σw² over the clipped document weights
    w = exp(clip(total log-likelihood ratio)) — the diagnostic that
    says whether importance RESAMPLING from a slice would actually
    draw diverse documents or keep hammering a few high-ratio ones
    (ESS/n near 1 = near-uniform; small = a handful dominate, and the
    top-weight share names the worst offender's mass).

    Exactness: the per-doc log ratio is the memoized exact-integer
    nano frame ([[curation_dsir_weights]] shares it); ONE exp per doc
    is frozen to a milli-unit long, so Σw and Σw² are order-free
    integer sums; the final ratio divides exact longs in double (same
    operands, same IEEE ops in both engines) and ships rounded ppm.
    Scale: doc-grain map + per-lang aggregate; nothing token-grain
    survives the memo."""
    per_doc = dsir_doc_scores_cached(spark, sf_dir)
    w = per_doc.selectExpr(
        "lang",
        "CAST(round(exp(greatest(-"
        f"{DSIR_LOG_CLIP}, least({DSIR_LOG_CLIP},"
        " CAST(wnum AS DOUBLE) / 1e9))) * 1e3) AS BIGINT) AS wm",
    )
    return (
        w.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("wm").alias("sw"),
            F.sum(F.expr("wm * wm")).alias("sww"),
            F.max("wm").alias("mw"),
        )
        .selectExpr(
            "lang",
            "CAST(n_docs AS BIGINT) AS n_docs",
            "CAST(round(1e6 * (CAST(sw AS DOUBLE) * sw)"
            " / (CAST(sww AS DOUBLE) * n_docs)) AS BIGINT)"
            " AS ess_ratio_ppm",
            "(2 * mw * 1000000 + sw) DIV (2 * sw)"
            " AS top_weight_share_ppm",
        )
        .orderBy("lang")
    )


QUERIES["curation_dsir_ess"] = dsir_ess

ORACLES["curation_dsir_ess"] = f"""
    WITH toks AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(tok), 1, 15))::BIGINT % {DSIR_BUCKETS}
                   AS b
        FROM (SELECT doc_id, lang,
                     unnest(regexp_split_to_array(lower(trim(text)),
                                                  '\\s+')) AS tok
              FROM documents)
    ),
    cdb AS MATERIALIZED (
        SELECT doc_id, lang, b, count(*) AS c FROM toks GROUP BY 1, 2, 3
    ),
    buckets AS (
        SELECT b, sum(c) AS cq,
               sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN c
                        ELSE 0 END) AS ct
        FROM cdb GROUP BY b
    ),
    lr AS (
        SELECT b, CAST(round(ln(CAST(ct + 1 AS DOUBLE)
                  * (nq + {DSIR_BUCKETS})
                  / (CAST(cq + 1 AS DOUBLE)
                     * (nt + {DSIR_BUCKETS}))) * 1e9) AS BIGINT) AS lrn
        FROM (SELECT b, cq, ct, sum(cq) OVER () AS nq,
                     sum(ct) OVER () AS nt FROM buckets)
    ),
    per_doc AS (
        SELECT doc_id, lang, sum(c * lrn) AS wnum
        FROM cdb JOIN lr USING (b) GROUP BY 1, 2
    ),
    w AS (
        SELECT lang,
               CAST(round(exp(greatest(-{DSIR_LOG_CLIP},
                   least({DSIR_LOG_CLIP},
                         CAST(wnum AS DOUBLE) / 1e9))) * 1e3)
                   AS BIGINT) AS wm
        FROM per_doc
    ),
    agg AS (
        SELECT lang, count(*) AS n_docs, sum(wm) AS sw,
               sum(wm * wm) AS sww, max(wm) AS mw
        FROM w GROUP BY lang
    )
    SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(round(1e6 * (CAST(sw AS DOUBLE) * sw)
                / (CAST(sww AS DOUBLE) * n_docs)) AS BIGINT)
               AS ess_ratio_ppm,
           CAST((2 * mw * 1000000 + sw) // (2 * sw) AS BIGINT)
               AS top_weight_share_ppm
    FROM agg ORDER BY lang
"""
