"""Benchmark decontamination + dataset mixing — the two corpus-level
controls every LLM training pipeline runs before a token is consumed.

**Decontamination**: an eval benchmark leaking into training data
invalidates the benchmark, so pipelines scan the corpus for training
documents sharing long n-grams with any benchmark document (the method
popularized by the GPT-3 appendix: 8-13-gram overlap; 5-grams here to
suit the synthetic corpus' short documents). The benchmark set is
modeled as a deterministic slice of ``documents`` (doc_id % 37 == 0 —
a stand-in for a separate eval table, reproducible by the oracle).

Scale shape — the part that matters at 100 TB: benchmark sets are tiny
(thousands of documents) while the corpus is not, so the contamination
index (distinct benchmark shingles) BROADCASTS, the corpus-side shingle
stream map-side-joins against it with no shuffle of the corpus, and the
only exchange carries hit rows (rare by construction). The per-doc
shingle count rides the shingle rows exactly as in dedup.py, so the
overlap fraction needs no extra sizes join.

**Temperature mixing**: multi-source corpora are sampled with source
weights w_s ∝ n_s^α (α = 0.5 here — the "temperature" that upweights
small high-quality sources); the operator reports each source's token
count, mix share, and implied epochs at a one-pass token budget — the
numbers a data-mixing config is written from. One tiny groupBy; all
arithmetic integer-exact or sqrt (correctly-rounded IEEE, so DuckDB
reproduces it bit-for-bit).

Reference: the reference has no corpus operators; this extends the
beyond-reference surface (SURVEY §2's training-data pipeline addendum)
with design-note citations to dedup.py's shingle machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import session_memo
from ..tables import load_table, values_df
from .dedup import _shingles
from .text import tokens_col

DECON_N = 5          # n-gram length for overlap detection
BENCH_MOD = 37       # doc_id % BENCH_MOD == 0 ⇒ benchmark member
CONTAM_NUM = 1       # flagged iff n_hit * DEN >= n_sh * NUM …
CONTAM_DEN = 5       # … i.e. hit fraction ≥ 1/5 (integer-exact compare)

MIX_ALPHA_SQRT = True  # α = 0.5 via sqrt (bit-identical across engines)


# Session memo for the corpus 5-gram frame: four catalog queries
# (benchmark_contamination, decontam_matrix, eval_leakage_leaderboard,
# and curation's dataset card) run the same tokenize→gram→md5 chain —
# the family's CPU hot spot — over the same corpus.
@session_memo
def sh5_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _shingles(docs, n=DECON_N).localCheckpoint(eager=False)


def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs sharing ≥1 benchmark 5-gram, with overlap stats.

    Output: (doc_id, n_sh, n_hit, hit_frac, flagged) for every training
    document with at least one hit; ``flagged`` uses the integer-exact
    comparison ``n_hit·5 ≥ n_sh`` so both engines agree at the boundary.
    """
    sh = sh5_cached(spark, sf_dir)
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bench_idx = sh.filter(is_bench).select("sh").distinct()
    train = sh.filter(~is_bench)
    hits = (
        train.join(F.broadcast(bench_idx), "sh")
        .groupBy("doc_id", "n_sh")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        hits.select(
            "doc_id",
            "n_sh",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_sh"), 6).alias("hit_frac"),
            (
                F.col("n_hit") * CONTAM_DEN >= F.col("n_sh") * CONTAM_NUM
            ).alias("flagged"),
        )
        .orderBy("doc_id")
    )


def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source α=0.5 temperature-sampling weights and implied epochs.

    ``mix_share_s = sqrt(tok_s) / Σ sqrt(tok_s)``; at a one-pass budget
    (Σ tok total tokens drawn), source s is seen
    ``epochs_s = mix_share_s · Σ tok / tok_s`` times — >1 means the
    sampler repeats the (small) source, the quantity a mixing config
    bounds."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.when(F.trim("text") == "", 0).otherwise(
        F.size(tokens_col(F.col("text")))
    )
    per = (
        docs.select("source", t.alias("t"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t").alias("n_tokens"),
        )
    )
    totals = per.agg(
        F.sum(F.sqrt(F.col("n_tokens"))).alias("z"),
        F.sum("n_tokens").alias("tot"),
    )
    out = per.crossJoin(F.broadcast(totals))
    share = F.sqrt(F.col("n_tokens")) / F.col("z")
    return out.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("mix_share"),
        F.round(share * F.col("tot") / F.col("n_tokens"), 6).alias("epochs"),
    ).orderBy("source")


PACK_BUDGET = 512  # tokens per packed training sequence


def concat_chunk_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing, per source shard.

    Documents are concatenated in deterministic (doc_id) order within
    their source and cut into fixed ``PACK_BUDGET``-token chunks; the
    operator reports per-(source, chunk): document count, token count,
    and how many documents were split across a chunk boundary — the
    fragmentation number a packing config trades against padding waste.

    Scale shape: packing is order-defined, so the running token sum is a
    window — partitioned BY SOURCE, which is exactly how pipelines shard
    packing in practice; no global ordering, no single-partition window.
    Chunk assignment is integer arithmetic on the cumulative sum
    (chunk = floor(start_offset / budget)), so both engines agree
    exactly and the final groupBy reuses the window's partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    t = F.when(F.trim("text") == "", 0).otherwise(
        F.size(tokens_col(F.col("text")))
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    toks = docs.select("source", "doc_id", t.cast("long").alias("t"))
    laid = toks.select(
        "source",
        "doc_id",
        "t",
        (F.sum("t").over(w) - F.col("t")).alias("start_off"),
        (F.sum("t").over(w) - 1).alias("end_off"),
    )
    chunk = F.floor(F.col("start_off") / PACK_BUDGET).cast("long")
    split = (
        F.floor(F.col("end_off") / PACK_BUDGET)
        != F.floor(F.col("start_off") / PACK_BUDGET)
    ).cast("long")
    return (
        laid.filter(F.col("t") > 0)
        .groupBy("source", chunk.alias("chunk_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t").alias("n_tokens"),
            F.sum(split).alias("n_split_docs"),
        )
        .orderBy("source", "chunk_id")
    )


QUERIES = {
    "decontam_benchmark_overlap": benchmark_contamination,
    "decontam_mix_weights": temperature_mix_weights,
    "decontam_concat_chunk_packing": concat_chunk_packing,
}

# 5-gram analog of dedup.py's _SHINGLES_CTE (same tokenizer as
# text.py's _TOKS, same md5→60-bit hashing)
_SH5_CTE = r"""
    toks AS (
        SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS w
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               || ' ' || w[i+3] || ' ' || w[i+4]),
                               1, 15))::BIGINT AS sh
        FROM toks, unnest(range(1, len(w) - 3)) AS t(i)
        WHERE len(w) >= 5
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
"""

ORACLES = {
    "decontam_benchmark_overlap": f"""
        WITH {_SH5_CTE},
        bench AS (
            SELECT DISTINCT sh FROM sh WHERE doc_id % {BENCH_MOD} = 0
        ),
        hits AS (
            SELECT s.doc_id, count(*) AS n_hit
            FROM sh s JOIN bench b ON s.sh = b.sh
            WHERE s.doc_id % {BENCH_MOD} <> 0
            GROUP BY s.doc_id
        )
        SELECT h.doc_id, z.n_sh, h.n_hit,
               ROUND(h.n_hit * 1.0 / z.n_sh, 6) AS hit_frac,
               h.n_hit * {CONTAM_DEN} >= z.n_sh * {CONTAM_NUM} AS flagged
        FROM hits h JOIN sizes z ON h.doc_id = z.doc_id
        ORDER BY h.doc_id
    """,
    "decontam_concat_chunk_packing": rf"""
        WITH toks AS (
            SELECT source, doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(lower(trim(text)),
                                                       '\s+'))
                   END AS t
            FROM documents
        ),
        laid AS (
            SELECT source, doc_id, t,
                   SUM(t) OVER w - t AS start_off,
                   SUM(t) OVER w - 1 AS end_off
            FROM toks
            WINDOW w AS (PARTITION BY source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT source,
               CAST(floor(start_off / {PACK_BUDGET}) AS BIGINT) AS chunk_id,
               count(*) AS n_docs,
               CAST(sum(t) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN floor(end_off / {PACK_BUDGET})
                             <> floor(start_off / {PACK_BUDGET})
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
        FROM laid
        WHERE t > 0
        GROUP BY 1, 2
        ORDER BY source, chunk_id
    """,
    "decontam_mix_weights": r"""
        WITH toks AS (
            SELECT source,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(lower(trim(text)),
                                                       '\s+'))
                   END AS t
            FROM documents
        ),
        per AS (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(t) AS BIGINT) AS n_tokens
            FROM toks GROUP BY source
        ),
        tot AS (
            SELECT sum(sqrt(CAST(n_tokens AS DOUBLE))) AS z,
                   CAST(sum(n_tokens) AS BIGINT) AS tot
            FROM per
        )
        SELECT source, n_docs, n_tokens,
               ROUND(sqrt(CAST(n_tokens AS DOUBLE)) / z, 6) AS mix_share,
               ROUND(sqrt(CAST(n_tokens AS DOUBLE)) / z * tot / n_tokens, 6)
                   AS epochs
        FROM per CROSS JOIN tot
        ORDER BY source
    """,
}


# ------------------------------------------------------ span-level report

SPAN_RUN_MIN = 3  # >= 3 aligned 8-grams => contaminated passage >= 10 toks


def contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination: WHERE in each training document the
    benchmark text sits — so the pipeline can cut the passage instead
    of dropping the whole document (the surgical variant of
    ``benchmark_contamination``; doc-level dropping wastes the clean
    remainder, which for long documents is nearly everything).

    Device: positional 8-gram shingles (dedup's substring-run
    machinery) joined train-side x bench-side on the shingle hash;
    matches on one (train, bench, delta) diagonal are one aligned
    passage, so min/max train position bound the span to cut. Output is
    the cut list: (doc_id, bench_id, span_start, span_end, span_tokens,
    run_len) for every aligned run of >= SPAN_RUN_MIN shingles.

    Scale shape: the bench side of the join is tiny (benchmark sets are
    thousands of docs) and BROADCASTS; the corpus-side positional
    shingle stream map-side-joins it — no corpus shuffle; only hit rows
    reach the (train, bench, delta) groupBy. Same hot-shingle DF cap as
    every shingle consumer."""
    from .dedup import (
        DF_CAP_FRAC,
        SUBSTR_N,
        _pos_shingles,
        corpus_stat,
        hot_shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    ps = _pos_shingles(docs).cache()
    hot = corpus_stat(
        docs,
        ("hot_pos", SUBSTR_N, DF_CAP_FRAC),
        lambda: hot_shingles(
            ps.select("doc_id", "sh").distinct(),
            corpus_stat(docs, "n_docs", docs.count),
            DF_CAP_FRAC,
        ),
    )
    if hot:
        ps = ps.filter(~F.col("sh").isin(*[int(x) for x in hot]))
    train = ps.filter(F.col("doc_id") % BENCH_MOD != 0)
    bench = ps.filter(F.col("doc_id") % BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.col("pos").alias("bpos"),
        "sh",
    )
    return (
        train.join(F.broadcast(bench), "sh")
        .groupBy(
            "doc_id",
            "bench_id",
            (F.col("bpos") - F.col("pos")).alias("delta"),
        )
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            F.min("pos").alias("span_start"),
            (F.max("pos") + SUBSTR_N - 1).alias("span_end"),
        )
        .filter(F.col("run_len") >= SPAN_RUN_MIN)
        .select(
            "doc_id",
            "bench_id",
            "delta",
            "run_len",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
        .orderBy("doc_id", "bench_id", "delta")
    )


QUERIES["decontam_span_report"] = contamination_spans


def _span_oracle() -> str:
    from .dedup import (  # noqa: F401
        DF_CAP_FRAC,
        HOT_ABS_CAP,
        HOT_MIN_DF,
        SUBSTR_N,
        SUBSTR_RUN_MIN,
    )

    gram = (
        "w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || "
        "w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]"
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, {{toks}} AS w FROM documents
        ),
        ps AS (
            SELECT doc_id, i - 1 AS pos,
                   ('0x' || substr(md5({gram}), 1, 15))::BIGINT AS sh
            FROM toks, unnest(range(1, len(w) - 6)) AS t(i)
            WHERE len(w) >= 8
        ),
        hot AS (
            SELECT sh FROM (
                SELECT sh, count(DISTINCT doc_id) AS df FROM ps GROUP BY sh
            )
            WHERE df > greatest({HOT_MIN_DF}, least(CAST(floor(
                (SELECT count(*) FROM documents) * {DF_CAP_FRAC}) AS BIGINT),
                {HOT_ABS_CAP}))
        ),
        clean AS (
            SELECT * FROM ps WHERE sh NOT IN (SELECT sh FROM hot)
        )
        SELECT a.doc_id, b.doc_id AS bench_id,
               CAST(b.pos - a.pos AS BIGINT) AS delta,
               CAST(count(*) AS BIGINT) AS run_len,
               CAST(min(a.pos) AS BIGINT) AS span_start,
               CAST(max(a.pos) + {SUBSTR_N} - 1 AS BIGINT) AS span_end,
               CAST(max(a.pos) + {SUBSTR_N} - min(a.pos) AS BIGINT)
                   AS span_tokens
        FROM clean a
        JOIN clean b ON a.sh = b.sh
        WHERE a.doc_id % {BENCH_MOD} <> 0
          AND b.doc_id % {BENCH_MOD} = 0
        GROUP BY 1, 2, 3
        HAVING count(*) >= {SPAN_RUN_MIN}
        ORDER BY a.doc_id, bench_id, delta
    """.replace(
        "{toks}", r"regexp_split_to_array(lower(trim(text)), '\s+')"
    )


ORACLES["decontam_span_report"] = _span_oracle()


#: Synthetic benchmark families for the contamination matrix: disjoint
#: residue classes stand in for distinct eval suites.
BENCH_SETS = (("bench37", 37), ("bench41", 41))


def contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(benchmark, source) contamination scoreboard — the review
    table a training run signs off on before launch: for EVERY
    benchmark suite and every data source, how many training docs share
    any benchmark 5-gram and how many cross the flag threshold.  The
    single-benchmark operator answers "which docs"; this answers "which
    sources are dirty against which suites".

    Shape: ONE shingle pass serves every benchmark; each suite's
    (tiny, distinct) shingle index broadcasts and map-side-joins the
    training stream — no corpus shuffle per suite, same scale contract
    as ``benchmark_contamination``; per-source rollups are KB-sized."""
    docs = load_table(spark, sf_dir, "documents")
    # memoized: each suite branch reads the shingle frame twice (index
    # + training stream) and three sibling queries share it — the
    # tokenize→gram→md5 chain builds once per (session, sf_dir)
    sh = sh5_cached(spark, sf_dir)
    outs = []
    for bname, mod in BENCH_SETS:
        is_b = F.col("doc_id") % mod == 0
        bidx = sh.filter(is_b).select("sh").distinct()
        hits = (
            sh.filter(~is_b)
            .join(F.broadcast(bidx), "sh")
            .groupBy("doc_id", "n_sh")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        train = docs.filter(F.col("doc_id") % mod != 0).select(
            "doc_id", "source"
        )
        per_doc = train.join(hits, "doc_id", "left")
        hit = F.when(F.col("n_hit").isNotNull(), 1).otherwise(0)
        flagged = F.when(
            F.col("n_hit") * CONTAM_DEN >= F.col("n_sh") * CONTAM_NUM, 1
        ).otherwise(0)
        outs.append(
            per_doc.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_train_docs"),
                F.sum(hit).alias("n_docs_hit"),
                F.sum(flagged).alias("n_flagged"),
            )
            .select(
                F.lit(bname).alias("benchmark"),
                "source",
                "n_train_docs",
                "n_docs_hit",
                "n_flagged",
                F.round(
                    F.col("n_docs_hit") * 1.0 / F.col("n_train_docs"), 6
                ).alias("doc_hit_rate"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("benchmark", "source")


QUERIES["decontam_matrix"] = contamination_matrix


def _matrix_oracle() -> str:
    parts = []
    for bname, mod in BENCH_SETS:
        parts.append(f"""
        SELECT '{bname}' AS benchmark, t.source,
               CAST(count(*) AS BIGINT) AS n_train_docs,
               CAST(sum(CASE WHEN h.n_hit IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_docs_hit,
               CAST(sum(CASE WHEN h.n_hit * {CONTAM_DEN}
                                  >= h.n_sh * {CONTAM_NUM}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
               ROUND(sum(CASE WHEN h.n_hit IS NOT NULL THEN 1 ELSE 0 END)
                     * 1.0 / count(*), 6) AS doc_hit_rate
        FROM (SELECT doc_id, source FROM documents
              WHERE doc_id % {mod} <> 0) t
        LEFT JOIN (
            SELECT s.doc_id, z.n_sh, count(*) AS n_hit
            FROM sh s
            JOIN (SELECT DISTINCT sh FROM sh
                  WHERE doc_id % {mod} = 0) b ON s.sh = b.sh
            JOIN sizes z ON s.doc_id = z.doc_id
            WHERE s.doc_id % {mod} <> 0
            GROUP BY s.doc_id, z.n_sh
        ) h ON t.doc_id = h.doc_id
        GROUP BY t.source""")
    return (
        f"WITH {_SH5_CTE} SELECT * FROM ("
        + " UNION ALL ".join(parts)
        + ") ORDER BY benchmark, source"
    )


ORACLES["decontam_matrix"] = _matrix_oracle()


# -------------------------------- fuzzy (MinHash) benchmark contamination

FUZZY_TAU_NUM = 1  # verify gate: jaccard ≥ 1/2, integer-exact compare
FUZZY_TAU_DEN = 2


def minhash_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level FUZZY benchmark contamination: training documents that
    are near-duplicates (exact 3-gram Jaccard ≥ ½, MinHash-LSH
    candidates) of any benchmark member, rolled up per source — the
    paraphrase-robust companion to ``decontam_benchmark_overlap``'s
    exact 5-gram test (a lightly edited benchmark answer shares few
    5-grams but keeps high shingle Jaccard; real pipelines run both).

    Scale shape: signatures/banding ride ``operators/dedup.py``'s
    machinery; the BENCHMARK side of the band join is tiny by
    construction and BROADCASTS, so the corpus-side stream is never
    shuffled for candidate generation — one broadcast-hash probe, then
    the exact verify runs on candidates only (integer Jaccard, half-add
    ppm).  Every source appears in the rollup (zero rows included), so
    the readout is a fixed |sources|-row scoreboard.
    """
    from .dedup import _minhash_signatures, _shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = _shingles(docs).cache()
    sigs = _minhash_signatures(sh.select("doc_id", "sh"))
    cols = []
    for band in range(4):
        members = [F.col(f"mh{band * 2 + k}").cast("string") for k in range(2)]
        cols.append(F.concat_ws("_", F.lit(str(band)), *members))
    banded = sigs.select(
        "doc_id", F.explode(F.array(*cols)).alias("band_key")
    )
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bb = banded.filter(is_bench).selectExpr(
        "doc_id AS b_id", "band_key"
    )
    tb = banded.filter(~is_bench).selectExpr(
        "doc_id AS t_id", "band_key"
    )
    cand = (
        tb.join(F.broadcast(bb), "band_key")
        .select("t_id", "b_id")
        .distinct()
    )
    a = sh.selectExpr("doc_id AS t_id", "sh", "n_sh AS s1")
    b = sh.selectExpr("doc_id AS b_id", "sh", "n_sh AS s2")
    ver = (
        cand.join(a, "t_id")
        .join(b, ["b_id", "sh"])
        .groupBy("t_id", "b_id")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.first("s1").alias("s1"),
            F.first("s2").alias("s2"),
        )
        .filter(
            F.col("common") * FUZZY_TAU_DEN
            >= FUZZY_TAU_NUM * (F.col("s1") + F.col("s2") - F.col("common"))
        )
        .selectExpr(
            "t_id",
            "b_id",
            "(2*common*1000000 + (s1 + s2 - common))"
            " DIV (2*(s1 + s2 - common)) AS jac_ppm",
        )
    )
    train_per_src = (
        docs.filter(~is_bench)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_train_docs"))
    )
    flagged = (
        ver.join(
            docs.selectExpr("doc_id AS t_id", "source"), "t_id"
        )
        .groupBy("source")
        .agg(
            F.countDistinct("t_id").alias("n_flagged"),
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("jac_ppm").alias("max_jac_ppm"),
        )
    )
    return (
        train_per_src.join(flagged, "source", "left")
        .selectExpr(
            "source",
            "n_train_docs",
            "CAST(COALESCE(n_flagged, 0) AS BIGINT) AS n_flagged",
            "CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs",
            "CAST(COALESCE(max_jac_ppm, 0) AS BIGINT) AS max_jac_ppm",
        )
        .orderBy("source")
    )


QUERIES["decontam_minhash_fuzzy"] = minhash_fuzzy_contamination


def _fuzzy_oracle() -> str:
    from .dedup import (
        _SHINGLES_CTE,
        HASH_PARAMS,
        MERSENNE,
        N_HASHES,
    )

    mh = ", ".join(
        f"min(((sh % {MERSENNE}) * {a} + {b}) % {MERSENNE}) AS mh{k}"
        for k, (a, b) in enumerate(HASH_PARAMS[:N_HASHES])
    )
    bands = []
    for band in range(4):
        parts = " || '_' || ".join(
            f"CAST(mh{band * 2 + k} AS VARCHAR)" for k in range(2)
        )
        bands.append(f"('{band}' || '_' || {parts})")
    return f"""
    WITH {_SHINGLES_CTE},
    sigs AS (SELECT doc_id, {mh} FROM sh GROUP BY doc_id),
    banded AS (
        SELECT doc_id, unnest([{", ".join(bands)}]) AS band_key FROM sigs
    ),
    bb AS (SELECT doc_id AS b_id, band_key FROM banded
           WHERE doc_id % {BENCH_MOD} = 0),
    tb AS (SELECT doc_id AS t_id, band_key FROM banded
           WHERE doc_id % {BENCH_MOD} <> 0),
    cand AS (SELECT DISTINCT t_id, b_id FROM tb JOIN bb USING (band_key)),
    cm AS (
        SELECT c.t_id, c.b_id, count(*) AS common
        FROM cand c JOIN sh a ON a.doc_id = c.t_id
        JOIN sh b ON b.doc_id = c.b_id AND a.sh = b.sh
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    ver AS (
        SELECT t_id, b_id,
               (2*common*1000000 + (s1.n_sh + s2.n_sh - common))
                 // (2*(s1.n_sh + s2.n_sh - common)) AS jac_ppm
        FROM cm JOIN sizes s1 ON s1.doc_id = t_id
        JOIN sizes s2 ON s2.doc_id = b_id
        WHERE {FUZZY_TAU_DEN}*common
              >= {FUZZY_TAU_NUM}*(s1.n_sh + s2.n_sh - common)
    ),
    tps AS (
        SELECT source, count(*) AS n_train_docs FROM documents
        WHERE doc_id % {BENCH_MOD} <> 0 GROUP BY 1
    ),
    fl AS (
        SELECT d.source, count(DISTINCT t_id) AS n_flagged,
               count(*) AS n_pairs, max(jac_ppm) AS max_jac_ppm
        FROM ver JOIN documents d ON d.doc_id = ver.t_id
        GROUP BY 1
    )
    SELECT t.source, t.n_train_docs,
           CAST(COALESCE(f.n_flagged, 0) AS BIGINT) AS n_flagged,
           CAST(COALESCE(f.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(f.max_jac_ppm, 0) AS BIGINT) AS max_jac_ppm
    FROM tps t LEFT JOIN fl f ON f.source = t.source
    ORDER BY t.source
"""


ORACLES["decontam_minhash_fuzzy"] = _fuzzy_oracle()


# -------------------------------------- n-gram size sweep

#: n-gram lengths swept for the overlap detector.  DECON_N = 5 is the
#: production setting; 3 shows the false-positive cost of going
#: shorter, 8 the miss cost of going longer.
SWEEP_NS = (3, 5, 8)


def ngram_size_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination n-gram-length tuning curve: for n = 3, 5, 8, the
    benchmark index size, how many training docs share ≥1 benchmark
    n-gram, and how many cross the flag threshold — the knob behind
    every exact-overlap decontaminator (short n-grams flag common
    phrases as contamination; long n-grams miss lightly-edited
    passages; this table is how one picks DECON_N and defends it).

    Scale shape: ONE tokenize pass serves all three ns — per doc, the
    three distinct-gram hash arrays are built side by side from the
    same token array (the tokenize is the chain's CPU hot spot; the
    md5 volume is Σ_n |grams_n| either way, paid once here where the
    per-n plan re-evaluated each chain ~3x across its consumers), fan
    out as (ng, sh) rows behind the same aggregate barrier as
    ``_shingles``, and checkpoint per invocation.  The bench index is
    then ONE distinct + broadcast over (ng, sh) — the same
    broadcast-bench-index semi-join as [[decontam_benchmark_overlap]],
    all three ns in a single map-side join — and the final ppm joins
    one 1-row training-doc count via broadcast.
    """
    from ..tables import fanout_small_scan

    docs = fanout_small_scan(load_table(spark, sf_dir, "documents"), spark)
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    total = (
        docs.filter(~is_bench)
        .agg(F.count(F.lit(1)).alias("n_train"))
    )

    def hashed_grams(n: int) -> str:
        return (
            "transform(array_distinct(transform("
            f"sequence(0, size(__toks) - {n}),"
            f" i -> concat_ws(' ', slice(__toks, i + 1, {n})))),"
            " g -> cast(conv(substring(md5(g), 1, 15), 16, 10)"
            " as bigint))"
        )

    arr = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("__toks")
    ).selectExpr(
        "doc_id",
        *[
            f"IF(size(__toks) >= {n}, {hashed_grams(n)},"
            f" CAST(array() AS ARRAY<BIGINT>)) AS __h{n}"
            for n in SWEEP_NS
        ],
    )
    # same materialization barrier as _shingles: keep Catalyst from
    # inlining the tokenize→gram→md5 chain into the Generate below
    arr = arr.groupBy("doc_id").agg(
        *[F.first(f"__h{n}").alias(f"__h{n}") for n in SWEEP_NS]
    )
    sh_all = (
        arr.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(n).alias("ng"),
                            F.col(f"__h{n}").alias("hs"),
                        )
                        for n in SWEEP_NS
                    ]
                )
            ).alias("s"),
        )
        .select(
            "doc_id",
            "s.ng",
            F.size("s.hs").alias("n_sh"),
            F.explode("s.hs").alias("sh"),
        )
    )
    # deliberately NOT checkpointed: the two bench-index consumers
    # filter on doc_id, which pushes through the doc_id-keyed barrier
    # down to the scan, so they re-evaluate the chain over 1/37 of the
    # corpus only; the train side evaluates the full chain exactly
    # once.  A checkpoint would materialize all Σ_n shingle rows first
    # — more I/O than the 2/37 of re-hashing it saves.
    bench_idx = sh_all.filter(is_bench).select("ng", "sh").distinct()
    n_bench = bench_idx.groupBy("ng").agg(
        F.count(F.lit(1)).alias("n_bench_grams")
    )
    hits = (
        sh_all.filter(~is_bench)
        .join(F.broadcast(bench_idx), ["ng", "sh"])
        .groupBy("ng", "doc_id", "n_sh")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    per_n = hits.groupBy("ng").agg(
        F.count(F.lit(1)).alias("docs_hit"),
        F.sum(
            F.when(
                F.col("n_hit") * CONTAM_DEN >= F.col("n_sh") * CONTAM_NUM,
                1,
            ).otherwise(0)
        ).alias("docs_flagged"),
    )
    # an n with zero hits (or zero bench grams) must still emit its row
    # — the previous per-n global aggregates did so by construction
    ns = values_df(spark, [(int(n),) for n in SWEEP_NS], "ng int")
    return (
        ns.join(F.broadcast(per_n), "ng", "left")
        .join(F.broadcast(n_bench), "ng", "left")
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "CAST(ng AS BIGINT) AS n_gram",
            "CAST(coalesce(n_bench_grams, 0) AS BIGINT) AS n_bench_grams",
            "CAST(coalesce(docs_hit, 0) AS BIGINT) AS docs_hit",
            "CAST(coalesce(docs_flagged, 0) AS BIGINT) AS docs_flagged",
            "(2 * coalesce(docs_hit, 0) * 1000000 + n_train)"
            " DIV (2 * n_train) AS docs_hit_ppm",
        )
        .orderBy("n_gram")
    )


QUERIES["decontam_ngram_size_sweep"] = ngram_size_sweep


def _ngram_cte(n: int) -> str:
    gram = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
    return f"""
    sh{n} AS (
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5({gram}), 1, 15))::BIGINT AS sh
        FROM toks, unnest(range(1, len(w) - {n - 2})) AS t(i)
        WHERE len(w) >= {n}
    ),
    sizes{n} AS (SELECT doc_id, count(*) AS n_sh FROM sh{n}
                 GROUP BY doc_id)"""


def _ngram_sweep_oracle() -> str:
    cells = []
    for n in SWEEP_NS:
        cells.append(f"""
        SELECT {n} AS n_gram,
               (SELECT count(DISTINCT sh) FROM sh{n}
                WHERE doc_id % {BENCH_MOD} = 0) AS n_bench_grams,
               count(*) AS docs_hit,
               sum(CASE WHEN n_hit * {CONTAM_DEN} >= n_sh * {CONTAM_NUM}
                   THEN 1 ELSE 0 END) AS docs_flagged
        FROM (
            SELECT s.doc_id, any_value(z.n_sh) AS n_sh,
                   count(*) AS n_hit
            FROM sh{n} s
            JOIN (SELECT DISTINCT sh FROM sh{n}
                  WHERE doc_id % {BENCH_MOD} = 0) b ON s.sh = b.sh
            JOIN sizes{n} z ON z.doc_id = s.doc_id
            WHERE s.doc_id % {BENCH_MOD} <> 0
            GROUP BY s.doc_id
        )""")
    ctes = ",".join(_ngram_cte(n) for n in SWEEP_NS)
    return f"""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS w
        FROM documents
    ),{ctes},
    total AS (SELECT count(*) AS n_train FROM documents
              WHERE doc_id % {BENCH_MOD} <> 0)
    SELECT CAST(n_gram AS BIGINT) AS n_gram,
           CAST(n_bench_grams AS BIGINT) AS n_bench_grams,
           CAST(docs_hit AS BIGINT) AS docs_hit,
           CAST(coalesce(docs_flagged, 0) AS BIGINT) AS docs_flagged,
           CAST((2 * docs_hit * 1000000 + n_train) // (2 * n_train)
                AS BIGINT) AS docs_hit_ppm
    FROM ({" UNION ALL ".join(cells)}), total
    ORDER BY n_gram
    """


ORACLES["decontam_ngram_size_sweep"] = _ngram_sweep_oracle()


# ----------------------------- benchmark-ITEM-side leakage leaderboard


def eval_leakage_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-item leakage leaderboard — the EVAL-side view of
    contamination the train-side operators don't give: for every
    benchmark document of every suite, what fraction of ITS 5-grams
    appears anywhere in the training corpus (coverage), how many
    distinct training documents share at least one gram with it, and
    whether the item crosses the flag threshold.  Train-side scans
    (``benchmark_contamination``, ``decontam_matrix``) answer "which
    training docs to drop"; this answers the dual question an eval
    owner asks — "which benchmark items are burned and must be retired
    from the suite" (the GPT-3 appendix's dirty/clean split is exactly
    this per-item partition).

    Same scale contract as every decontam operator: ONE cached 5-gram
    pass serves both suites; each suite's (tiny) bench-side gram index
    broadcasts with its bench doc ids attached, the corpus-side stream
    map-side-joins it, and the only exchange carries hit rows (rare by
    construction) keyed by bench doc — |bench| rows out.  Items with
    fewer than 5 tokens have no shingles and are reported from the
    shingle frame's universe (n_sh >= 1), mirroring the train-side
    operators' universe.  The flag reuses the integer-exact
    ``CONTAM_NUM/CONTAM_DEN`` threshold on the BENCH side: covered
    fraction >= 1/5.

    Exactness: pure integer counts; coverage ships as half-add ppm."""
    sh = sh5_cached(spark, sf_dir)
    outs = []
    for bname, mod in BENCH_SETS:
        is_b = F.col("doc_id") % mod == 0
        bidx = sh.filter(is_b).selectExpr("doc_id AS b_id", "sh")
        hits = (
            sh.filter(~is_b)
            .select("doc_id", "sh")
            .join(F.broadcast(bidx), "sh")
            .groupBy("b_id")
            .agg(
                F.countDistinct("sh").alias("n_covered"),
                F.countDistinct("doc_id").alias("n_train_docs_hit"),
            )
        )
        bd = (
            sh.filter(is_b)
            .groupBy(F.col("doc_id").alias("b_id"))
            .agg(F.max("n_sh").alias("n_sh"))
        )
        outs.append(
            bd.join(F.broadcast(hits), "b_id", "left").select(
                F.lit(bname).alias("benchmark"),
                F.col("b_id").alias("bench_doc_id"),
                F.col("n_sh").cast("long").alias("n_sh"),
                F.coalesce("n_covered", F.lit(0))
                .cast("long")
                .alias("n_covered"),
                F.coalesce("n_train_docs_hit", F.lit(0))
                .cast("long")
                .alias("n_train_docs_hit"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.selectExpr(
        "benchmark",
        "bench_doc_id",
        "n_sh",
        "n_covered",
        "n_train_docs_hit",
        "(2 * n_covered * 1000000 + n_sh) DIV (2 * n_sh)"
        " AS coverage_ppm",
        f"CAST(n_covered * {CONTAM_DEN} >= n_sh * {CONTAM_NUM} AS LONG)"
        " AS burned",
    ).orderBy("benchmark", "bench_doc_id")


QUERIES["decontam_eval_leaderboard"] = eval_leakage_leaderboard


def _eval_leaderboard_oracle() -> str:
    parts = []
    for bname, mod in BENCH_SETS:
        parts.append(f"""
        SELECT '{bname}' AS benchmark, bd.b_id AS bench_doc_id,
               bd.n_sh,
               coalesce(h.n_covered, 0) AS n_covered,
               coalesce(h.n_train_docs_hit, 0) AS n_train_docs_hit
        FROM (
            SELECT doc_id AS b_id, count(*) AS n_sh FROM sh
            WHERE doc_id % {mod} = 0 GROUP BY doc_id
        ) bd
        LEFT JOIN (
            SELECT b.doc_id AS b_id,
                   count(DISTINCT b.sh) AS n_covered,
                   count(DISTINCT s.doc_id) AS n_train_docs_hit
            FROM sh b
            JOIN sh s ON s.sh = b.sh AND s.doc_id % {mod} <> 0
            WHERE b.doc_id % {mod} = 0
            GROUP BY b.doc_id
        ) h ON bd.b_id = h.b_id""")
    return f"""
    WITH {_SH5_CTE}
    SELECT benchmark,
           CAST(bench_doc_id AS BIGINT) AS bench_doc_id,
           CAST(n_sh AS BIGINT) AS n_sh,
           CAST(n_covered AS BIGINT) AS n_covered,
           CAST(n_train_docs_hit AS BIGINT) AS n_train_docs_hit,
           CAST((2 * n_covered * 1000000 + n_sh) // (2 * n_sh)
                AS BIGINT) AS coverage_ppm,
           CAST(CASE WHEN n_covered * {CONTAM_DEN} >= n_sh * {CONTAM_NUM}
                THEN 1 ELSE 0 END AS BIGINT) AS burned
    FROM ({" UNION ALL ".join(parts)})
    ORDER BY benchmark, bench_doc_id
    """


ORACLES["decontam_eval_leaderboard"] = _eval_leaderboard_oracle()
