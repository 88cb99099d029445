"""The incremental export pipeline as Structured Streaming.

The batch driver loop (service.py) is the faithful mapping of the
reference — hauser itself is poll-and-sleep batch (SURVEY §7). This module
is the alternative the engine offers when the event source is a landing
zone of files (or Kafka, with a one-line source swap):

- W1 tumbling windows      → ``F.window(ts, duration)`` (epoch-aligned,
                             identical alignment semantics to
                             internal/service.go:280-284)
- W2 ExportDelay watermark → ``withWatermark(ts, delay)`` — late events
                             beyond the delay are dropped, exactly the
                             reference's documented late-data policy
                             (README.md:43-47)
- W3 trigger loop          → ``trigger(availableNow=True)`` for catch-up,
                             ``processingTime`` for steady state
- W4 checkpoint            → ``checkpointLocation`` (replaces the sync
                             table when streaming owns the pipeline),
                             plus epoch-versioned state for the twins'
                             running aggregates (``_fold_versioned``)

Scale notes: file-source streaming lists incrementally
(``maxFilesPerTrigger`` bounds a micro-batch); the windowed aggregate is
a streaming state-store aggregation keyed by window — state size is
bounded by (windows in flight × groups), and the watermark evicts closed
windows. Day-partitioned parquet sink + ``availableNow`` reproduces the
bundle-at-a-time load with exactly-once file-sink semantics.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _committed_dirs(
    base: str, name: str, parts: tuple[str, ...] = ("",)
) -> dict[str, str]:
    """Subdirectories of ``base`` whose name fully matches the regex
    ``name`` and whose parquet write(s) COMMITTED — every part dir
    carries Spark's ``_SUCCESS`` marker — as {regex group: path}.  A
    crash mid-write leaves a dir without the marker; a reader that took
    it would read torn data until the replaying writer overwrites it."""
    if not os.path.isdir(base):
        return {}
    out = {}
    for d in os.listdir(base):
        m = re.fullmatch(name, d)
        if m and all(
            os.path.exists(os.path.join(base, d, p, "_SUCCESS"))
            for p in parts
        ):
            out[m.group(1)] = os.path.join(base, d)
    return out


def _committed_versions(
    state_dir: str,
    *,
    below: int | None = None,
    parts: tuple[str, ...] = ("",),
) -> list[int]:
    """Committed version numbers ``v{N}`` under ``state_dir`` (only
    those below ``below`` when given)."""
    versions = map(int, _committed_dirs(state_dir, r"v(\d+)", parts))
    return [n for n in versions if below is None or n < below]


def _gc_versions(
    state_dir: str, *, keep: int = 2, parts: tuple[str, ...] = ("",)
) -> None:
    """Drop committed state versions older than the newest ``keep``.
    Uncommitted dirs are left alone: the replaying writer owns them."""
    committed = _committed_dirs(state_dir, r"v(\d+)", parts)
    for n in sorted(committed, key=int)[:-keep]:
        shutil.rmtree(committed[n], ignore_errors=True)


def _read_latest(
    spark: SparkSession,
    state_dir: str,
    parts: tuple[str, ...] = ("",),
    below: int | None = None,
):
    """The latest committed version of a ``_fold_versioned`` state (the
    latest below ``below`` when given): one DataFrame for a one-part
    state, a tuple in ``parts`` order otherwise; None when no version
    has committed."""
    versions = _committed_versions(state_dir, below=below, parts=parts)
    if not versions:
        return None
    base = f"{state_dir}/v{max(versions)}"
    frames = tuple(spark.read.parquet(f"{base}/{p}".rstrip("/")) for p in parts)
    return frames if len(parts) > 1 else frames[0]


def _fold_versioned(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    fold,
    parts: tuple[str, ...] = ("",),
):
    """Maintain ``fold`` over ``stream`` as epoch-versioned state — the
    one exactly-once protocol of every streaming twin's state, and the
    Structured Streaming form of hauser's checkpoint protocol (W4).

    The stream drains with ``trigger(availableNow=True)`` under
    ``checkpoint_dir``.  Micro-batch ``batch_id`` calls
    ``fold(batch_df, prev)``, where ``prev`` is the highest committed
    version below ``batch_id`` (None before the first), and writes the
    result to ``{state_dir}/v{batch_id}/<part>``.  A state of one part
    is a DataFrame; a state of several is a tuple in ``parts`` order
    (the one-part default ``("",)`` writes ``v{batch_id}`` itself).

    - Commit rule: a version exists only once every part dir carries
      Spark's ``_SUCCESS`` marker.  A crash mid-write leaves a partial
      dir that neither the next fold nor ``_read_latest`` takes.
    - Replay-overwrite: a micro-batch replayed after a crash between
      its state write and its checkpoint commit reads the same
      predecessor and overwrites its own ``v{batch_id}``, so the landing
      is deterministic and no repair pass is needed.
    - Two-version horizon: after each write, committed versions older
      than the newest two are dropped (``_gc_versions``).  Structured
      Streaming replays at most the last uncommitted batch, whose
      rebuild reads its predecessor, so latest plus predecessor is the
      whole replay horizon and state on disk stays bounded.

    Returns the started query."""

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        prev = _read_latest(batch_df.sparkSession, state_dir, parts, batch_id)
        out = fold(batch_df, prev)
        for p, df in zip(parts, out if len(parts) > 1 else (out,)):
            df.write.mode("overwrite").parquet(
                f"{state_dir}/v{batch_id}/{p}".rstrip("/")
            )
        _gc_versions(state_dir, parts=parts)

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _merged(prev, part: DataFrame, keys: tuple[str, ...], *aggs) -> DataFrame:
    """A keyed-monoid fold: ``part`` alone before the first version,
    else the union with ``prev`` re-aggregated per ``keys``."""
    if prev is None:
        return part
    return prev.unionByName(part).groupBy(*keys).agg(*aggs)


def _sums(*cols: str) -> list:
    return [F.sum(c).alias(c) for c in cols]


EVENT_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events(
    spark: SparkSession,
    source_dir: str,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source event stream with an explicit schema (S4: never infer —
    ids must be long, not double)."""
    reader = spark.readStream.format(fmt).schema(EVENT_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(source_dir)


def stream_bundle_counts(
    events: DataFrame,
    window_duration: str = "6 hours",
    watermark_delay: str = "24 hours",
) -> DataFrame:
    """W1+W2: watermarked tumbling-window bundle aggregation — the
    streaming twin of plans/parity.w1_tumbling_windows (same alignment,
    same output shape, plus late-data eviction)."""
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
        )
        .select(
            F.col("w.start").alias("bundle_start"),
            F.col("w.end").alias("bundle_end"),
            "n_events",
            "n_users_approx",
        )
    )


def stream_dedup_events(
    events: DataFrame, watermark_delay: str = "24 hours"
) -> DataFrame:
    """Streaming exact dedup on the event key within the watermark horizon
    — the streaming member of the dedup suite (operators/dedup.py). State
    is bounded: keys older than the watermark are evicted."""
    return events.withWatermark("ts", watermark_delay).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_e", T.DoubleType()),
        T.StructField("last_e", T.DoubleType()),
        T.StructField("n", T.LongType()),
        T.StructField("val", T.DoubleType()),
    ]
)


def stream_sessionize(
    events: DataFrame,
    gap_sec: int = 1800,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization via
    ``applyInPandasWithState`` — the streaming twin of the batch
    gap-and-island sessionizer (plans/events.py), and the one operator
    shape Spark's built-in streaming aggregations can't express (state =
    one open session per user; emission on gap closure or event-time
    timeout).

    Semantics: events for a user extend the open session while gaps are
    ≤ gap_sec; a larger gap closes and emits the session immediately; an
    open session is emitted when the watermark passes session_end +
    gap_sec (event-time timeout), exactly matching the batch definition
    for all sessions whose closing gap the stream has observed.

    Scale notes: state is one fixed-width row per active user (not per
    event); the watermark bounds its lifetime; Arrow batches amortize the
    Python boundary; the shuffle is the same user_id exchange the batch
    sessionizer pays.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def sessionize_user(key, pdfs, state: "GroupState"):
        (user,) = key
        out: list[tuple] = []
        if state.hasTimedOut:
            start, last, n, val = state.get
            state.remove()
            out.append((user, start, last, n, val))
        else:
            if state.exists:
                start, last, n, val = state.get
            else:
                start = last = None
                n, val = 0, 0.0
            for pdf in pdfs:
                pdf = pdf.sort_values(["ts", "event_id"])
                for ts, v in zip(pdf["ts"], pdf["value"]):
                    e = ts.timestamp()
                    if start is None:
                        start = last = e
                        n, val = 1, float(v)
                    elif e - last > gap_sec:
                        out.append((user, start, last, n, val))
                        start = last = e
                        n, val = 1, float(v)
                    else:
                        last = e
                        n += 1
                        val += float(v)
            if start is not None:
                state.update((start, last, n, val))
                state.setTimeoutTimestamp(int((last + gap_sec) * 1000))
        yield pd.DataFrame(
            {
                "user_id": pd.array([r[0] for r in out], dtype="int64"),
                "session_start": pd.to_datetime([r[1] for r in out], unit="s"),
                "session_end": pd.to_datetime([r[2] for r in out], unit="s"),
                "n_events": pd.array([r[3] for r in out], dtype="int64"),
                "total_value": [round(r[4], 2) for r in out],
            }
        )

    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize_user,
            SESSION_OUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_hopping_counts(
    events: DataFrame,
    width: str = "1 hour",
    slide: str = "15 minutes",
    watermark_delay: str = "24 hours",
) -> DataFrame:
    """Hopping-window streaming aggregation — the streaming twin of
    plans/events.sliding_windows (same epoch alignment, same
    width/slide replication). State holds width/slide windows per
    group-key in flight; the watermark closes and evicts them."""
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )


def stream_click_purchase_join(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon_sec: int = 3600,
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each click pairs with the same user's
    purchases within [click_ts, click_ts + horizon] — the streaming twin
    of the batch as-of/funnel analytics (plans/events.py).

    Both sides are watermarked and the join carries an explicit
    event-time range, which is what lets Spark bound the join state:
    a buffered click can be dropped once the purchase-side watermark
    passes click_ts + horizon, and vice versa. Without the time bound
    the state store grows forever — the canonical stream-join pitfall.
    The equi-key (user_id) keeps it a hash join on the state store, so
    at scale the shuffle is the same user_id exchange the batch join
    pays, amortized per micro-batch.
    """
    c = clicks.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", watermark_delay)
    p = purchases.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value"),
    ).withWatermark("purchase_ts", watermark_delay)
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon_sec} SECONDS")
        ),
        "inner",
    ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts", "value")


def stream_partitioned_load(
    events: DataFrame, out_dir: str, checkpoint_dir: str
):
    """The streaming twin of the K4 day-partitioned bulk load
    (sinks/warehouse.PartitionedSparkWarehouseDatabase): route each
    event to its ``event_day=`` partition, exactly-once.

    Where the batch pipeline gets exactly-once *by repair* (delete past
    the watermark, re-load — the reference's crash-recovery contract),
    the streaming file sink gets it *by manifest*: committed files are
    recorded per epoch in the _spark_metadata log, so a crashed/retried
    micro-batch never double-lands and a restarted query resumes from
    the checkpoint with no repair step at all. Day partitioning keeps
    reader-side partition pruning identical between the two load paths.
    """
    return (
        events.withColumn("event_day", F.to_date("ts"))
        .writeStream.format("parquet")
        .partitionBy("event_day")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_available_now(
    result: DataFrame, checkpoint_dir: str, out_dir: str | None = None
):
    """W3 catch-up: drain everything currently available, then stop —
    the streaming analog of the batch loop's zero-wait fast path
    (internal/service.go:362-378). Returns the finished query."""
    writer = (
        result.writeStream.outputMode(
            "append" if out_dir else "complete"
        ).option("checkpointLocation", checkpoint_dir)
    )
    if out_dir:
        q = writer.format("parquet").option("path", out_dir).trigger(
            availableNow=True
        ).start()
    else:
        q = (
            writer.format("memory")
            .queryName("bundles")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    return q


def stream_rollup_merge(events: DataFrame, state_dir: str, checkpoint_dir: str):
    """Streaming materialized-view maintenance: each micro-batch's
    partial (day, type) aggregates merge into a persistent rollup — the
    streaming twin of ``operators/incremental``, reusing the SAME
    ``merge_rollups`` combine step, so batch refresh and streaming
    refresh are provably the one algebraic merge.  State size is the
    rollup (|days|×|types|), so each merge touches KBs regardless of
    stream volume."""
    from ..operators.incremental import _partial_rollup, merge_rollups

    def fold(batch_df: DataFrame, prev):
        part = _partial_rollup(batch_df)
        return part if prev is None else merge_rollups(prev, part)

    return _fold_versioned(events, state_dir, checkpoint_dir, fold)


def read_rollup_state(spark, state_dir: str) -> DataFrame:
    """Latest committed rollup version (readers never see a partial);
    None before the first micro-batch commits."""
    return _read_latest(spark, state_dir)


DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_documents(
    spark: SparkSession,
    source_dir: str,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source document stream with an explicit schema."""
    reader = spark.readStream.format(fmt).schema(DOC_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(source_dir)


#: One partition of the minhash index: the bootstrap corpus, or the
#: accepted docs (and drop decisions) of one micro-batch.
_INDEX_PARTITION = r"batch=(bootstrap|\d+)"


def bootstrap_minhash_index(docs: DataFrame, index_dir: str) -> None:
    """Materialize the at-rest LSH index of an existing corpus: its
    banded signature keys plus its shingle store (for candidate
    verification). The streaming dedup probes and GROWS this index."""
    from ..operators import dedup as dd

    sh = dd._shingles(docs).cache()
    dd.banded_keys(dd._minhash_signatures(sh)).write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/bands/batch=bootstrap")
    sh.write.mode("overwrite").parquet(f"{index_dir}/shingles/batch=bootstrap")


def stream_minhash_dedup(
    docs_stream: DataFrame, index_dir: str, checkpoint_dir: str
):
    """Streaming near-dup dedup of arriving documents against a growing
    corpus — the streaming twin of ``operators/dedup.
    incremental_minhash_dedup``, sharing its shingle/signature/banding
    code so both paths agree on the index layout and the verify rule.

    Each micro-batch: shingle + sign the batch, probe the at-rest band
    index (batch band keys broadcast — the corpus side NEVER shuffles),
    verify candidates with exact Jaccard against the stored shingles of
    only the candidate docs, record (d_new, d_old, jaccard) drop
    decisions, and append the ACCEPTED docs' bands + shingles to the
    index — so later batches dedupe against everything accepted before
    them, which the one-shot batch operator cannot do.

    Exactly-once: every write lands under ``batch=<epoch>`` with
    overwrite — a replayed micro-batch deterministically rewrites its
    own partition, and the probe and ``read_dedup_decisions`` union only
    partitions whose write committed (``_SUCCESS``). Index growth is
    append-only: per batch one new partition of
    O(|accepted batch|) rows; nothing existing is rewritten, so index
    maintenance cost is independent of corpus size."""
    from ..operators import dedup as dd

    def committed_below(kind: str, batch_id: int) -> list[str]:
        found = _committed_dirs(f"{index_dir}/{kind}", _INDEX_PARTITION)
        return [
            path
            for b, path in found.items()
            if b == "bootstrap" or int(b) < batch_id
        ]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        sh_in = dd._shingles(batch_df).cache()
        b_in = dd.banded_keys(dd._minhash_signatures(sh_in)).cache()

        band_parts = committed_below("bands", batch_id)
        sh_parts = committed_below("shingles", batch_id)
        if band_parts and sh_parts:
            b_co = sp.read.parquet(*band_parts)
            sh_co = sp.read.parquet(*sh_parts)
            cand = (
                b_co.join(
                    F.broadcast(b_in.withColumnRenamed("doc_id", "d_new")),
                    "band_key",
                )
                .select("d_new", F.col("doc_id").alias("d_old"))
                .distinct()
            )
            common = (
                sh_in.alias("a")
                .join(F.broadcast(cand), F.col("a.doc_id") == F.col("d_new"))
                .join(
                    sh_co.alias("b"),
                    (F.col("d_old") == F.col("b.doc_id"))
                    & (F.col("a.sh") == F.col("b.sh")),
                )
                .groupBy(
                    "d_new",
                    "d_old",
                    F.col("a.n_sh").alias("n1"),
                    F.col("b.n_sh").alias("n2"),
                )
                .agg(F.count(F.lit(1)).alias("common"))
            )
            jac = F.col("common") / (
                F.col("n1") + F.col("n2") - F.col("common")
            )
            decisions = common.filter(
                jac >= dd.JACCARD_THRESHOLD
            ).select("d_new", "d_old", F.round(jac, 6).alias("jaccard"))
        else:
            decisions = sp.createDataFrame(
                [],
                "d_new long, d_old long, jaccard double",
            )
        decisions = decisions.cache()
        decisions.write.mode("overwrite").parquet(
            f"{index_dir}/decisions/batch={batch_id}"
        )
        dropped = decisions.select(
            F.col("d_new").alias("doc_id")
        ).distinct()
        sh_in.join(dropped, "doc_id", "left_anti").write.mode(
            "overwrite"
        ).parquet(f"{index_dir}/shingles/batch={batch_id}")
        b_in.join(dropped, "doc_id", "left_anti").write.mode(
            "overwrite"
        ).parquet(f"{index_dir}/bands/batch={batch_id}")
        sh_in.unpersist()
        b_in.unpersist()
        decisions.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_dedup_decisions(spark: SparkSession, index_dir: str) -> DataFrame:
    """All committed drop decisions (d_new, d_old, jaccard)."""
    found = _committed_dirs(f"{index_dir}/decisions", _INDEX_PARTITION)
    return spark.read.parquet(*found.values())


# ---------------------------------------------------- corpus stats at ingest

#: Bucketed-KMV parameters for the mergeable vocabulary sketch — same
#: estimator as operators/profile.py's NDV column (K smallest of B
#: bucket minima; estimate (K-1)·2^60/h_K).
STATS_NDV_K = 64
STATS_NDV_BUCKETS = 8192
_STATS_HASH_SPAN = float(1 << 60)


def _stats_partial(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One micro-batch's (or the whole corpus's) partial stats:
    per-source (n_docs, n_tokens) sums plus per-(source, bucket) token
    hash minima.  Both are ALGEBRAICALLY mergeable — sums add, minima
    min — which is the whole design: the ingest stream maintains the
    statistics that ``tables.corpus_stat`` memoizes per session, so no
    query ever scans the corpus for them."""
    from ..operators.text import tokens_col

    toks = docs.select(
        "source", F.explode(tokens_col(F.col("text"))).alias("tok")
    )
    sums = (
        docs.select(
            "source",
            F.when(F.trim("text") == "", 0)
            .otherwise(F.size(tokens_col(F.col("text"))))
            .cast("long")
            .alias("__nt"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nt").alias("n_tokens"),
        )
    )
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    buckets = (
        toks.select("source", h.alias("h"))
        .groupBy("source", F.pmod("h", F.lit(STATS_NDV_BUCKETS)).alias("b"))
        .agg(F.min("h").alias("h"))
    )
    return sums, buckets


def merge_corpus_stats(
    sums_a: DataFrame,
    buckets_a: DataFrame,
    sums_b: DataFrame,
    buckets_b: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """state ⊕ delta: the one combine both refresh paths share."""
    sums = (
        sums_a.unionByName(sums_b)
        .groupBy("source")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )
    buckets = (
        buckets_a.unionByName(buckets_b)
        .groupBy("source", "b")
        .agg(F.min("h").alias("h"))
    )
    return sums, buckets


#: The two parts of the corpus-stats state: per-source sums and the
#: per-(source, bucket) token-hash minima.
CORPUS_STATS_PARTS = ("sums", "buckets")


def stream_corpus_stats(docs: DataFrame, state_dir: str, checkpoint_dir: str):
    """Streaming maintenance of the corpus statistics table — the
    ingest-side realization of the per-session stats memo: each
    micro-batch's partials merge into the state through the shared
    ``merge_corpus_stats``.  State per version is |sources| +
    |sources|·B rows regardless of stream volume."""

    def fold(batch_df: DataFrame, prev):
        part = _stats_partial(batch_df)
        return part if prev is None else merge_corpus_stats(*prev, *part)

    return _fold_versioned(
        docs, state_dir, checkpoint_dir, fold, CORPUS_STATS_PARTS
    )


def read_corpus_stats(spark: SparkSession, state_dir: str) -> DataFrame:
    """Latest committed stats: per-source doc/token counts plus the
    KMV vocabulary estimate folded from the bucket minima."""
    sums, buckets = _read_latest(spark, state_dir, CORPUS_STATS_PARTS)
    w = Window.partitionBy("source").orderBy("h")
    per = (
        buckets.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= STATS_NDV_K)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_seen"), F.max("h").alias("kth"))
    )
    est = F.when(
        F.col("n_seen") < STATS_NDV_K, F.col("n_seen").cast("double")
    ).otherwise(
        F.lit((STATS_NDV_K - 1) * _STATS_HASH_SPAN) / F.col("kth")
    )
    return (
        sums.join(per, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(est, 4).alias("vocab_est"),
        )
        .orderBy("source")
    )


def merge_compaction(state: DataFrame, partial: DataFrame) -> DataFrame:
    """Combine two latest-wins compaction states: per key, the record
    with the higher epoch wins; version counts add.  ``max_by`` over
    the union is associative+commutative (epochs are unique per key),
    so batch compaction and any micro-batch split compose to the same
    state — the algebraic-merge property streaming correctness rides.
    """
    u = state.unionByName(partial)
    return u.groupBy("k").agg(
        F.expr("max_by(final_op, max_epoch)").alias("final_op"),
        F.expr("max_by(final_price, max_epoch)").alias("final_price"),
        F.max("max_epoch").alias("max_epoch"),
        F.sum("n_versions").alias("n_versions"),
    )


def stream_cdc_compaction(cdc: DataFrame, state_dir: str, checkpoint_dir: str):
    """Streaming CDC latest-wins compaction — the streaming twin of
    ``operators/merge.cdc_log_compaction``: each micro-batch reduces to
    per-key ``max_by`` partials (one record per key per batch,
    regardless of log volume) merged into the state by the shared
    ``merge_compaction``.

    This is the continuously-compacted-changelog shape (Kafka compacted
    topic / Delta CDF consumer): state size is |live keys|, each merge
    shuffles one record per (key seen this batch) — never the log.
    """

    def fold(batch_df: DataFrame, prev):
        part = batch_df.groupBy("k").agg(
            F.expr("max_by(op, epoch)").alias("final_op"),
            F.expr("max_by(price, epoch)").alias("final_price"),
            F.max("epoch").alias("max_epoch"),
            F.count(F.lit(1)).alias("n_versions"),
        )
        return part if prev is None else merge_compaction(prev, part)

    return _fold_versioned(cdc, state_dir, checkpoint_dir, fold)


def stream_hll_registers(events: DataFrame, state_dir: str, checkpoint_dir: str):
    """Streaming maintenance of the per-type HyperLogLog registers —
    the 11th batch-equivalence twin: each micro-batch computes its
    register partials (``operators/sketches.py:hll_register_partials``)
    and merges them into the state by pairwise register MAX, the
    sketch's algebraic combine.  State per version is ≤ |types|·2^p rows
    regardless of stream volume — the always-on cardinality dashboard
    shape.
    """

    from ..operators.sketches import hll_register_partials

    def fold(batch_df: DataFrame, prev):
        return _merged(
            prev,
            hll_register_partials(batch_df),
            ("event_type", "j"),
            F.max("m").alias("m"),
        )

    return _fold_versioned(
        events, state_dir, checkpoint_dir, fold, ("regs",)
    )


def read_hll_registers(spark: SparkSession, state_dir: str) -> DataFrame:
    """Latest committed register state, (event_type, j, m) ordered."""
    return _read_latest(spark, state_dir, ("regs",)).orderBy("event_type", "j")


def stream_psi_cells(
    events: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    mn: int,
    mx: int,
    mid: int,
):
    """Streaming maintenance of the PSI drift monitor's cell counts —
    the 12th batch-equivalence twin: each micro-batch buckets its rows
    against the FIXED reference grid (bounds are monitor config, as in
    any production drift monitor) and merges (event_type, period,
    bucket) counts into the state by SUM — the count table's algebraic
    combine.  State is ≤ |types|·2·B rows regardless of stream volume.
    The at-rest twin is ``operators/profile.py:psi_drift`` — identical
    cells ⇒ identical PSI for any reader.
    """

    from ..operators.profile import PSI_BUCKETS

    def fold(batch_df: DataFrame, prev):
        part = (
            batch_df.selectExpr(
                "event_type",
                "unix_timestamp(ts) AS us",
                "CAST(round(value * 100) AS BIGINT) AS cents",
            )
            .selectExpr(
                "event_type",
                f"CASE WHEN us <= {mid} THEN 1 ELSE 2 END AS period",
                f"least({PSI_BUCKETS - 1},"
                f" (cents - {mn}) * {PSI_BUCKETS}"
                f" DIV ({mx} - {mn} + 1)) AS bucket",
            )
            .groupBy("event_type", "period", "bucket")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return _merged(
            prev, part, ("event_type", "period", "bucket"), *_sums("c")
        )

    return _fold_versioned(
        events, state_dir, checkpoint_dir, fold, ("cells",)
    )


def read_psi_cells(spark: SparkSession, state_dir: str) -> DataFrame:
    """Latest committed PSI cell state, ordered."""
    return _read_latest(spark, state_dir, ("cells",)).orderBy(
        "event_type", "period", "bucket"
    )


def stream_cms_cells(
    docs: DataFrame, state_dir: str, checkpoint_dir: str
):
    """Streaming maintenance of the count-min sketch — the 13th
    batch-equivalence twin: each micro-batch wordcounts its documents
    (hashing each DISTINCT token once with its weight — the
    aggregate-then-sketch device of
    ``operators/sketches.py:cms_heavy_hitters``), folds the weighted
    tokens into D×W (row, bucket) partial counts, and merges them into
    the state by SUM — exactly the CMS mergeability property, so the
    drained state is bit-equal to the one-shot batch sketch no matter
    how the stream was micro-batched.  State is ≤ D·W rows regardless
    of stream volume.
    """

    from ..operators.sketches import CMS_D, _cms_bucket
    from ..operators.text import tokens_col

    def fold(batch_df: DataFrame, prev):
        wc = (
            batch_df.select(
                F.explode(tokens_col(F.col("text"))).alias("tok")
            )
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("w"))
        )
        rb = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cms_bucket(r, F.col("tok")).alias("bucket"),
                    )
                    for r in range(CMS_D)
                ]
            )
        ).alias("rb")
        part = (
            wc.select("w", rb)
            .select("rb.r", "rb.bucket", "w")
            .groupBy("r", "bucket")
            .agg(F.sum("w").alias("c"))
        )
        return _merged(prev, part, ("r", "bucket"), *_sums("c"))

    return _fold_versioned(
        docs, state_dir, checkpoint_dir, fold, ("cells",)
    )


def read_cms_cells(spark: SparkSession, state_dir: str) -> DataFrame:
    """Latest committed CMS cell state, ordered."""
    return _read_latest(spark, state_dir, ("cells",)).orderBy("r", "bucket")


URL_SIGHTING_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("j", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def stream_url_sightings(
    spark: SparkSession, source_dir: str
) -> DataFrame:
    """File-source stream of crawl sightings (doc_id, source, lang,
    sighting index, event time)."""
    return (
        spark.readStream.format("json")
        .schema(URL_SIGHTING_SCHEMA)
        .load(source_dir)
    )


def stream_url_frontier(
    sightings: DataFrame, watermark_delay: str = "24 hours"
) -> DataFrame:
    """Streaming crawl-frontier dedup — the 14th twin: canonicalize
    every sighting's raw URL (the urlnorm fixture + canonicalizer, a
    pure projection that compiles to the identical expression chain as
    the batch rollup) and keep the FIRST sighting per canonical URL
    within the watermark horizon via dropDuplicatesWithinWatermark.
    This is dedup-before-fetch as a stream: the frontier state is
    bounded by the watermark, and the per-domain distinct count the
    sink accumulates must equal the batch rollup's n_canonical."""
    from ..operators.urlnorm import _raw_url_sql, canonical_url_sql

    raw = _raw_url_sql(
        "md5(concat(CAST(doc_id AS STRING), ':', CAST(j AS STRING)))"
    )
    canon = (
        sightings.selectExpr("ts", "doc_id", "source", "lang",
                             f"{raw} AS url")
        .selectExpr(
            "ts",
            "url",
            f"{canonical_url_sql('url', 'spark')} AS curl",
        )
        .selectExpr(
            "ts",
            "url",
            "curl",
            "regexp_extract(curl, '^[a-z]+://([^/?#]+)', 1) AS domain",
        )
    )
    return canon.withWatermark(
        "ts", watermark_delay
    ).dropDuplicatesWithinWatermark(["curl"])


# ------------------------------------ compaction-stats maintenance


def stream_partition_stats(
    orders: DataFrame, state_dir: str, checkpoint_dir: str
):
    """Streaming maintenance of the compaction planner's inputs — the
    15th twin: as order ingest lands, keep per-(month, day) row and
    estimated-byte counters (the additive partials of
    ``profile.compaction_planner``'s per-month aggregate; the day
    grain is what makes ``files_now`` — distinct landing days —
    mergeable, bounded at ≤31 rows/month regardless of volume).
    """

    def fold(batch_df: DataFrame, prev):
        part = (
            batch_df.selectExpr(
                "date_format(o_orderdate, 'yyyy-MM') AS part_month",
                "to_date(o_orderdate) AS d",
                "CAST(24 + octet_length(CAST(o_orderkey AS STRING))"
                " + octet_length(o_orderstatus)"
                " + octet_length(o_orderpriority) AS LONG) AS b",
            )
            .groupBy("part_month", "d")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("b").alias("est_bytes"),
            )
        )
        return _merged(
            prev, part, ("part_month", "d"), *_sums("n_rows", "est_bytes")
        )

    return _fold_versioned(orders, state_dir, checkpoint_dir, fold)


def read_partition_stats(spark: SparkSession, state_dir: str) -> DataFrame:
    """Latest committed compaction-planner table from the day-grain
    state — the identical projection arithmetic as the batch
    ``profile.compaction_planner``, so the two must be row-equal."""
    from ..operators.profile import COMPACT_SMALL_FRAC, COMPACT_TARGET_BYTES

    days = _read_latest(spark, state_dir)
    p = days.groupBy("part_month").agg(
        F.sum("n_rows").alias("n_rows"),
        F.count(F.lit(1)).alias("files_now"),
        F.sum("est_bytes").alias("est_bytes"),
    )
    t = COMPACT_TARGET_BYTES
    return p.selectExpr(
        "part_month",
        "CAST(n_rows AS BIGINT) AS n_rows",
        "CAST(files_now AS BIGINT) AS files_now",
        "CAST(est_bytes AS BIGINT) AS est_bytes",
        f"greatest(1L, (est_bytes + {t - 1}) DIV {t}) AS files_target",
        "est_bytes DIV files_now AS avg_file_bytes_now",
        f"est_bytes DIV greatest(1L, (est_bytes + {t - 1}) DIV {t})"
        " AS avg_file_bytes_after",
        f"CAST(IF(est_bytes DIV files_now < {t // COMPACT_SMALL_FRAC},"
        " 1, 0) AS BIGINT) AS is_small_now",
    ).orderBy("part_month")


def stream_source_volume(
    docs: DataFrame, state_dir: str, checkpoint_dir: str
):
    """Streaming maintenance of the dataset card's volume columns —
    the 16th twin: as document ingest lands, keep per-(source, lang)
    counters (docs, raw tokens, raw chars) in epoch-versioned state.
    Everything the card's volume/language/fertility columns need is an
    additive monoid at the (source, lang) grain — doc and token counts
    sum, ``n_langs`` is the state's per-source row count, and
    ``top_lang`` / ``chars_per_token_ppm`` are projections at read
    time — so the per-source rollup a release datasheet prints can be
    maintained by ingest instead of recomputed by a corpus scan (the
    verdict/contamination columns are the batch card's job: they need
    the corpus-wide dedup/decontam passes).  State is bounded by
    |sources| x |langs| regardless of volume."""
    from ..operators.text import tokens_col

    def fold(batch_df: DataFrame, prev):
        nt = (
            F.when(F.trim("text") == "", 0)
            .otherwise(F.size(tokens_col(F.col("text"))))
            .cast("long")
        )
        part = (
            batch_df.select(
                "source",
                "lang",
                nt.alias("nt"),
                F.length("text").cast("long").alias("nc"),
            )
            .groupBy("source", "lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("nt").alias("raw_tokens"),
                F.sum("nc").alias("raw_chars"),
            )
        )
        return _merged(
            prev,
            part,
            ("source", "lang"),
            *_sums("n_docs", "raw_tokens", "raw_chars"),
        )

    return _fold_versioned(docs, state_dir, checkpoint_dir, fold)


def read_source_volume(spark: SparkSession, state_dir: str) -> DataFrame:
    """Latest committed per-source volume card from the (source, lang)
    state — identical projection arithmetic to the volume columns of
    the batch ``curation.dataset_card``, so the two must be
    row-equal on the shared columns."""
    sl = _read_latest(spark, state_dir)
    per = (
        sl.withColumn(
            "mx",
            F.max("n_docs").over(Window.partitionBy("source")),
        )
        .groupBy("source")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("raw_tokens").alias("raw_tokens"),
            F.sum("raw_chars").alias("raw_chars"),
            F.count(F.lit(1)).alias("n_langs"),
            F.min(
                F.when(F.col("n_docs") == F.col("mx"), F.col("lang"))
            ).alias("top_lang"),
        )
    )
    return per.selectExpr(
        "source",
        "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(raw_tokens AS BIGINT) AS raw_tokens",
        "CAST(n_langs AS BIGINT) AS n_langs",
        "top_lang",
        "CASE WHEN raw_tokens = 0 THEN NULL ELSE"
        " (2 * raw_chars * 1000000 + raw_tokens)"
        " DIV (2 * raw_tokens) END AS chars_per_token_ppm",
    ).orderBy("source")


def stream_lateness_counters(
    ev: DataFrame, state_dir: str, checkpoint_dir: str
):
    """Streaming maintenance of the lateness profile — the 17th twin:
    as events land in ARRIVAL order, keep the watermark (max event-time
    seen so far) plus the per-allowed-lateness drop counters in
    one-row epoch-versioned state.  ``ev`` must carry (event_id, ts_us,
    arrival_us) with files/batches split on arrival order (the stream
    IS the arrival order — that is what the batch twin's
    ``events_with_arrival`` replays).

    Per event the watermark is max(prior-batch state, running max of
    earlier-in-batch arrivals): a micro-batch is bounded by trigger
    size, so the batch-local ORDER BY window is bounded by
    construction — the unbounded-grain running max lives in the BATCH
    twin, where it rides rankops.global_running_max.  Counters and the
    watermark are additive/max monoids."""
    from ..plans.events import LATENESS_THRESH_SEC

    def fold(batch_df: DataFrame, prev):
        if prev is not None:
            prev = prev.collect()[0]
        w = (
            Window.orderBy("arrival_us", "event_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        wm = F.max("ts_us").over(w)
        if prev is not None and prev["wm_us"] is not None:
            wm = F.greatest(wm, F.lit(prev["wm_us"]))
        scored = (
            batch_df.withColumn("__wm", wm)
            .withColumn(
                "late_sec",
                F.expr(
                    "greatest(0L, coalesce(__wm, ts_us) - ts_us)"
                    " DIV 1000000"
                ),
            )
        )
        aggs = [
            F.count(F.lit(1)).alias("n_events"),
            F.max("late_sec").alias("max_late_sec"),
            F.max(F.greatest(F.col("__wm"), F.col("ts_us"))).alias("wm_us"),
        ]
        for d in LATENESS_THRESH_SEC:
            aggs.append(
                F.sum((F.col("late_sec") > d).cast("long")).alias(f"nl{d}")
            )
        p = scored.agg(*aggs)
        # an EMPTY micro-batch aggregates to NULL sums/maxes; left as-is
        # those NULLs would poison every later merge (NULL + prev = NULL)
        # and regress the stored watermark — coalesce counters to 0 so an
        # empty batch is a state no-op
        zeroes = {
            f"nl{d}": F.coalesce(F.col(f"nl{d}"), F.lit(0).cast("long"))
            for d in LATENESS_THRESH_SEC
        }
        zeroes["max_late_sec"] = F.coalesce(
            F.col("max_late_sec"), F.lit(0).cast("long")
        )
        p = p.withColumns(zeroes)
        if prev is not None:
            adds = {
                "n_events": F.col("n_events") + F.lit(prev["n_events"]),
                "max_late_sec": F.greatest(
                    F.col("max_late_sec"), F.lit(prev["max_late_sec"])
                ),
                # greatest skips NULLs: an empty batch carries the stored
                # watermark forward instead of regressing it to NULL
                "wm_us": F.greatest(
                    F.col("wm_us"), F.lit(prev["wm_us"]).cast("long")
                ),
            }
            for d in LATENESS_THRESH_SEC:
                adds[f"nl{d}"] = F.col(f"nl{d}") + F.lit(prev[f"nl{d}"])
            p = p.withColumns(adds)
        return p

    return _fold_versioned(ev, state_dir, checkpoint_dir, fold)


def read_lateness_profile(spark: SparkSession, state_dir: str) -> DataFrame:
    """Latest committed lateness counters unrolled to the batch
    ``events_lateness_profile`` shape (one row per allowed-lateness
    setting) — identical ppm arithmetic, so the streaming state and
    the batch audit can never disagree."""
    from ..plans.events import LATENESS_THRESH_SEC

    s = _read_latest(spark, state_dir)
    structs = ", ".join(
        f"named_struct('allowed_sec', {d}L, 'n_late', nl{d})"
        for d in LATENESS_THRESH_SEC
    )
    return (
        s.selectExpr(
            "n_events", "max_late_sec", f"inline(array({structs}))"
        )
        .selectExpr(
            "allowed_sec",
            "n_events",
            "n_late",
            "(2 * n_late * 1000000 + n_events) DIV (2 * n_events)"
            " AS late_ppm",
            "max_late_sec",
        )
        .orderBy("allowed_sec")
    )


def stream_drift_fingerprint(
    ev: DataFrame, state_dir: str, checkpoint_dir: str
):
    """Streaming maintenance of the cross-run drift fingerprint's
    events slice — the 18th twin: the per-(event_type) counters behind
    ``profile.drift_fingerprint`` (row count, null-value count,
    money-cents sum) are all additive monoids, so the fingerprint a
    drift diff consumes can be maintained by ingest instead of a
    snapshot scan — exactly the deployment story the drift harness
    docstring promises ("fingerprints are persisted per run; only the
    diff runs at read time")."""

    def fold(batch_df: DataFrame, prev):
        cents = F.round(F.col("value") * 100).cast("long")
        part = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").isNull().cast("long")).alias("n_null"),
            F.sum(F.coalesce(cents, F.lit(0))).alias("sum_cents"),
        )
        return _merged(
            prev, part, ("event_type",), *_sums("n", "n_null", "sum_cents")
        )

    return _fold_versioned(ev, state_dir, checkpoint_dir, fold)


def diff_fingerprint_states(
    spark: SparkSession, state_old: str, state_new: str
) -> DataFrame:
    """The drift-harness deployment story END TO END: diff two
    ingest-maintained fingerprint state tables (each kept by
    :func:`stream_drift_fingerprint`) with the exact
    ``profile.snapshot_drift`` arithmetic — ZERO snapshot scans at
    read time, only the two tiny persisted states are touched.  Same
    half-add drift ppm and the same ``DRIFT_PPM_MIN`` page flag, so
    the streaming diff and the batch audit can never disagree on a
    flagged cell."""
    from ..operators.profile import DRIFT_PPM_MIN

    old = read_drift_fingerprint(spark, state_old).selectExpr(
        "tbl", "seg", "stat", "val AS old_val"
    )
    new = read_drift_fingerprint(spark, state_new).selectExpr(
        "tbl", "seg", "stat", "val AS new_val"
    )
    return (
        old.join(new, ["tbl", "seg", "stat"], "full_outer")
        .selectExpr(
            "tbl",
            "seg",
            "stat",
            "coalesce(old_val, 0L) AS old_val",
            "coalesce(new_val, 0L) AS new_val",
        )
        .selectExpr(
            "tbl",
            "seg",
            "stat",
            "old_val",
            "new_val",
            "CASE WHEN old_val = new_val THEN 0L"
            " WHEN old_val = 0 THEN 1000000L"
            " ELSE (2 * abs(new_val - old_val) * 1000000 + abs(old_val))"
            " DIV (2 * abs(old_val)) END AS drift_ppm",
        )
        .selectExpr(
            "tbl",
            "seg",
            "stat",
            "old_val",
            "new_val",
            "drift_ppm",
            f"drift_ppm >= {DRIFT_PPM_MIN} AS flagged",
        )
        .orderBy("tbl", "seg", "stat")
    )


def read_drift_fingerprint(spark: SparkSession, state_dir: str) -> DataFrame:
    """Latest committed events fingerprint unrolled to the
    (tbl, seg, stat, val) rows of ``profile.drift_fingerprint`` —
    identical half-add ppm arithmetic, so the ingest-maintained and
    snapshot-scanned fingerprints can never disagree."""
    s = _read_latest(spark, state_dir)
    return (
        s.selectExpr(
            "'events' AS tbl",
            "event_type AS seg",
            "inline(array("
            "named_struct('stat', 'n', 'val', n),"
            "named_struct('stat', 'null_value_ppm',"
            " 'val', (2 * n_null * 1000000 + n) DIV (2 * n)),"
            "named_struct('stat', 'sum_cents', 'val', sum_cents)))",
        )
        .orderBy("seg", "stat")
    )


def stream_centroid_sums(
    emb: DataFrame, state_dir: str, checkpoint_dir: str
):
    """Streaming maintenance of the IVF coarse-centroid table — the
    20th twin, and the FIX ``sim_ivf_staleness_audit`` prices: that
    audit shows an un-rebuilt index losing the moved-cluster recall
    mass, and this operator makes "rebuild" free — the per-(label,
    dim) integer micro-sums and member counts behind
    ``similarity._structured_centroids`` are additive monoids, so the
    FRESH centroid table is maintained by ingest and reading the index
    is one tiny state read instead of a corpus scan.  ``emb`` must carry
    (vec_id, label, v: array<double>)."""

    def fold(batch_df: DataFrame, prev):
        part = (
            batch_df.select(
                "label",
                F.posexplode(
                    F.transform(
                        "v", lambda x: F.round(x * 1e6).cast("long")
                    )
                ).alias("dim", "x"),
            )
            .groupBy("label", "dim")
            .agg(
                F.sum("x").alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        return _merged(prev, part, ("label", "dim"), *_sums("s", "n"))

    return _fold_versioned(emb, state_dir, checkpoint_dir, fold)


def read_centroids(spark: SparkSession, state_dir: str) -> DataFrame:
    """Latest committed centroid state unrolled to the (label, cv)
    shape of ``similarity._structured_centroids`` — identical integer
    micro-grid arithmetic (sum DIV count, then /1e6), so the
    ingest-maintained index and the batch scan can never disagree."""
    s = _read_latest(spark, state_dir)
    per = s.selectExpr("label", "dim", "s DIV n AS cb")
    return (
        per.groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "cb"))).alias(
                "ps"
            )
        )
        .select(
            "label",
            F.transform("ps", lambda t: t.getField("cb") / 1e6).alias(
                "cv"
            ),
        )
    )


# ------------------------------------------------ funnel under lateness

FUNNEL_STATE_PARTS = ("global", "users", "pending")


def _fold_funnel_chain(ev: DataFrame, st: DataFrame, w_us: int) -> DataFrame:
    """Fold finalized events into the per-(axis, user) funnel chain
    state — the batch ``funnel_under_lateness`` chain test seeded by a
    sufficient statistic.  ``ev``: (axis, user_id, event_id,
    event_type, pos); ``st``: (axis, user_id, lv, lqc, conv) from
    earlier folds (lv = last view position, lqc = last QUALIFIED click
    position, conv = 0/1).  Both windows run over strictly-earlier rows
    in (pos, event_id) order with the stored state greatest()-ed in —
    running maxes distribute over any prefix split, so folding in
    final-horizon chunks is exact.  Windows are bounded: a chunk is at
    most one micro-batch plus the pending buffer."""
    j = ev.join(
        st.select(
            "axis",
            "user_id",
            F.col("lv").alias("lv0"),
            F.col("lqc").alias("lqc0"),
            F.col("conv").alias("conv0"),
        ),
        ["axis", "user_id"],
        "left",
    )
    w = (
        Window.partitionBy("axis", "user_id")
        .orderBy("pos", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s1 = j.withColumn(
        "lv",
        F.greatest(
            F.max(
                F.when(F.col("event_type") == "view", F.col("pos"))
            ).over(w),
            F.col("lv0"),
        ),
    )
    s2 = s1.withColumn(
        "lqc",
        F.greatest(
            F.max(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("lv") >= F.col("pos") - F.lit(w_us)),
                    F.col("pos"),
                )
            ).over(w),
            F.col("lqc0"),
        ),
    )
    hit = (
        (F.col("event_type") == "purchase")
        & (F.col("lqc") >= F.col("pos") - F.lit(w_us))
    ).cast("long")
    return s2.groupBy("axis", "user_id").agg(
        F.greatest(
            F.max(F.when(F.col("event_type") == "view", F.col("pos"))),
            F.max("lv0"),
        ).alias("lv"),
        F.greatest(
            F.max(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("lv") >= F.col("pos") - F.lit(w_us)),
                    F.col("pos"),
                )
            ),
            F.max("lqc0"),
        ).alias("lqc"),
        F.greatest(
            F.max(hit), F.max(F.coalesce("conv0", F.lit(0).cast("long")))
        ).alias("conv"),
    )


def stream_funnel_state(
    ev: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    buffer_sec: int = 1800,
):
    """Streaming maintenance of [[events_funnel_under_lateness]]'s
    conversion counters at ONE fixed reorder buffer D — the 22nd twin:
    as events land in ARRIVAL order, each gets its effective position
    (event time if watermark-lateness ≤ D, else arrival time), sits in
    a pending buffer until no future arrival can precede it on its
    axis, then folds into the per-user view→click→purchase chain state.
    The event-time TRUTH axis is maintained the same way with the
    arrival-jitter bound as its finality horizon.

    Finality horizons (why folding early is safe): a future event
    either has lateness ≤ D — then its effective position ≥
    watermark − D — or surfaces at its arrival > every arrival seen.
    So effective positions below ``wm − D`` are final.  On the truth
    axis ts ≥ arrival − max_jitter > a_max − max_jitter.  Chain state
    (last view, last qualified click, converted) is a sufficient
    statistic of the folded prefix, so state is three longs per
    (axis, user) plus the horizon-bounded pending buffer — the
    [[events_watermark_state_size]] capacity class.

    State parts: the global watermark row, the user chains and the
    pending events (``FUNNEL_STATE_PARTS``); empty micro-batches carry
    the horizons forward (greatest() merge, never NULL regression)."""
    from ..plans.events import ARRIVAL_JITTER_SEC, FUNNEL_STEP_WINDOW_SEC

    w_us = FUNNEL_STEP_WINDOW_SEC * 1_000_000
    d_us = buffer_sec * 1_000_000
    j_us = ARRIVAL_JITTER_SEC * 1_000_000

    def fold(bdf: DataFrame, prev):
        sp = bdf.sparkSession
        prev_g = prev_users = prev_pending = None
        if prev is not None:
            prev_g, prev_users, prev_pending = prev
            prev_g = prev_g.collect()[0]
        # per-event watermark: strictly-earlier arrivals in this batch,
        # greatest()-ed with the stored cross-batch watermark (the
        # batch-local window is bounded by trigger size)
        wwm = (
            Window.orderBy("arrival_us", "event_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        wm = F.max("ts_us").over(wwm)
        if prev_g is not None and prev_g["wm_us"] is not None:
            wm = F.greatest(wm, F.lit(prev_g["wm_us"]))
        scored = (
            bdf.withColumn("__wm", wm)
            .withColumn(
                "late_us",
                F.expr("greatest(0L, coalesce(__wm, ts_us) - ts_us)"),
            )
            .withColumn(
                "eff_us",
                F.expr(
                    f"CASE WHEN late_us <= {d_us}L"
                    " THEN ts_us ELSE arrival_us END"
                ),
            )
        )
        new_pend = scored.selectExpr(
            "'buf' AS axis",
            "user_id",
            "event_id",
            "event_type",
            "eff_us AS pos",
        ).unionByName(
            scored.selectExpr(
                "'true' AS axis",
                "user_id",
                "event_id",
                "event_type",
                "ts_us AS pos",
            )
        )
        allp = (
            new_pend
            if prev_pending is None
            else prev_pending.unionByName(new_pend)
        ).localCheckpoint(eager=True)
        g = scored.agg(
            F.max(F.greatest(F.col("__wm"), F.col("ts_us"))).alias(
                "wm_us"
            ),
            F.max("arrival_us").alias("amax_us"),
        )
        if prev_g is not None:
            # greatest skips NULLs: an empty batch carries the stored
            # horizons forward instead of regressing them
            g = g.select(
                F.greatest(
                    F.col("wm_us"), F.lit(prev_g["wm_us"]).cast("long")
                ).alias("wm_us"),
                F.greatest(
                    F.col("amax_us"),
                    F.lit(prev_g["amax_us"]).cast("long"),
                ).alias("amax_us"),
            )
        grow = g.collect()[0]
        wm_now, amax_now = grow["wm_us"], grow["amax_us"]
        st = (
            prev_users
            if prev_users is not None
            else sp.createDataFrame(
                [],
                "axis string, user_id long, lv long, lqc long, conv long",
            )
        )
        if wm_now is None:
            final = allp.filter(F.lit(False))
            pend = allp
        else:
            is_final = (
                (F.col("axis") == "buf")
                & (F.col("pos") < F.lit(wm_now - d_us))
            ) | (
                (F.col("axis") == "true")
                & (F.col("pos") < F.lit(amax_now - j_us))
            )
            final = allp.filter(is_final)
            pend = allp.filter(~is_final)
        users_new = _fold_funnel_chain(final, st, w_us)
        # carry forward state rows for users untouched this batch
        users_out = users_new.unionByName(
            st.join(
                users_new.select("axis", "user_id"),
                ["axis", "user_id"],
                "left_anti",
            )
        ).localCheckpoint(eager=True)
        g_out = sp.createDataFrame(
            [(wm_now, amax_now)], "wm_us long, amax_us long"
        )
        return g_out, users_out, pend

    return _fold_versioned(
        ev, state_dir, checkpoint_dir, fold, FUNNEL_STATE_PARTS
    )


def read_funnel_conversions(
    spark: SparkSession, state_dir: str, buffer_sec: int = 1800
) -> DataFrame:
    """Latest committed funnel state unrolled to the batch
    ``events_funnel_under_lateness`` row for this buffer: stream end
    means both horizons pass everything, so the reader folds the
    remaining pending buffer onto the chains and aggregates — identical
    ppm arithmetic, so stream and batch can never disagree."""
    from ..plans.events import FUNNEL_STEP_WINDOW_SEC

    w_us = FUNNEL_STEP_WINDOW_SEC * 1_000_000
    _, users, pend = _read_latest(spark, state_dir, FUNNEL_STATE_PARTS)
    folded = _fold_funnel_chain(pend, users, w_us)
    full = folded.unionByName(
        users.join(
            folded.select("axis", "user_id"),
            ["axis", "user_id"],
            "left_anti",
        )
    )
    per_user = full.groupBy("user_id").agg(
        F.max(F.when(F.col("axis") == "buf", F.col("conv"))).alias(
            "conv_buf"
        ),
        F.max(F.when(F.col("axis") == "true", F.col("conv"))).alias(
            "conv_true"
        ),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("conv_buf").alias("n_converted_buffered"),
        F.sum("conv_true").alias("n_converted_true"),
        F.sum(
            (F.col("conv_buf") != F.col("conv_true")).cast("long")
        ).alias("n_users_diff"),
    ).selectExpr(
        f"CAST({buffer_sec} AS INT) AS buffer_sec",
        "n_users",
        "n_converted_buffered",
        "n_converted_true",
        "(2 * n_converted_buffered * 1000000 + n_users)"
        " DIV (2 * n_users) AS conv_buffered_ppm",
        "n_users_diff",
        "(2 * n_users_diff * 1000000 + n_users) DIV (2 * n_users)"
        " AS users_diff_ppm",
    )


# --------------------------------------------- stale-index misroute monitor


def stream_misroute_counters(
    vecs: DataFrame,
    centroid_state_dir: str,
    state_dir: str,
    checkpoint_dir: str,
):
    """The operational monitor [[sim_stale_probe_policy]] and
    [[sim_rebuild_cadence_planner]] would be driven by — the 23rd twin:
    as (drifted) vectors land, each is assigned its nearest centroid
    from the ingest-maintained index state ([[stream_centroid_sums]]'s
    ``read_centroids``, i.e. the STALE index if the index stream
    stopped at an earlier epoch) and the running (n_vectors,
    n_misrouted) counters accumulate in epoch-versioned state.
    Misroute — assignment ≠ true label — is the direct cause of the
    staleness recall loss, and it is a per-vector ADDITIVE statistic,
    so the monitor is the lateness-counter twin shape: one tiny state
    row, empty batches are no-ops.

    The assignment replicates ``sim_index_misroute_decay``'s argmax
    bit-for-bit: cosine ppm-frozen to an integer before the argmax,
    ties broken toward the smaller label (max_by over
    struct(cos_ppm, -label)), centroids on the integer micro-grid.

    Scale shape: the centroid table is |labels| rows — broadcast into
    a map-side assignment; no shuffle beyond the two-number partial
    aggregate.  At 100 TB this is the per-ingest-batch index-health
    counter a rebuild trigger reads."""

    def fold(bdf: DataFrame, prev):
        from ..operators.similarity import _dot, _norm

        sp = bdf.sparkSession
        cents = (
            read_centroids(sp, centroid_state_dir)
            .withColumnRenamed("label", "cand")
            .withColumn("c_n", _norm(F.col("cv")))
        )
        scored = (
            bdf.withColumn("v_n", _norm(F.col("v")))
            .crossJoin(F.broadcast(cents))
            .select(
                "vec_id",
                "label",
                "cand",
                F.round(
                    _dot(F.col("v"), F.col("cv"))
                    / (F.col("v_n") * F.col("c_n"))
                    * 1e6
                )
                .cast("long")
                .alias("cos_ppm"),
            )
        )
        best = scored.groupBy("vec_id", "label").agg(
            F.expr("max_by(cand, struct(cos_ppm, -cand))").alias("best")
        )
        p = best.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.expr("CAST(best != label AS LONG)")
            ).alias("n_mis"),
        ).withColumns(
            {
                # empty batch: coalesce to 0 so the merge is a no-op
                "n": F.coalesce(F.col("n"), F.lit(0).cast("long")),
                "n_mis": F.coalesce(
                    F.col("n_mis"), F.lit(0).cast("long")
                ),
            }
        )
        if prev is None:
            return p
        prev = prev.collect()[0]
        return p.selectExpr(
            f"n + {prev['n']}L AS n",
            f"n_mis + {prev['n_mis']}L AS n_mis",
        )

    return _fold_versioned(vecs, state_dir, checkpoint_dir, fold)


def read_misroute_rate(spark: SparkSession, state_dir: str) -> DataFrame:
    """Latest committed misroute counters with the half-add ppm rate —
    the same arithmetic as ``sim_index_misroute_decay``'s
    misroute_stale_ppm column, so monitor and batch audit can never
    disagree."""
    s = _read_latest(spark, state_dir)
    return s.selectExpr(
        "n",
        "n_mis",
        "(2 * n_mis * 1000000 + n) DIV (2 * n) AS misroute_ppm",
    )
