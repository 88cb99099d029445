"""Structured Streaming incremental pipeline: the streaming windowed
aggregation must agree with the batch w1 computation, and streaming dedup
must drop exact duplicate events."""

import json
import os

from pyspark.sql import functions as F

from hauser_spark.streaming import (
    stream_bundle_counts,
    stream_dedup_events,
    stream_events,
)
from hauser_spark.streaming.incremental import run_available_now


def _write_event_files(tmp_path, events, files=3):
    src = tmp_path / "landing"
    src.mkdir()
    per = max(1, len(events) // files)
    for i in range(0, len(events), per):
        with open(src / f"chunk{i}.json", "w") as f:
            for e in events[i : i + per]:
                f.write(json.dumps(e) + "\n")
    return str(src)


def _mk_events(n=200):
    out = []
    for i in range(n):
        out.append(
            {
                "event_id": i,
                "ts": f"2024-01-0{1 + (i % 5)}T{i % 24:02d}:15:00.000Z",
                "user_id": i % 17,
                "event_type": ["view", "click", "purchase"][i % 3],
                "value": round(i * 0.5, 2),
                "props": json.dumps({"k": i % 100}),
            }
        )
    return out


def test_streaming_bundle_counts_match_batch(spark, tmp_path):
    events = _mk_events()
    src = _write_event_files(tmp_path, events)

    streamed = stream_bundle_counts(stream_events(spark, src), "6 hours")
    run_available_now(streamed, str(tmp_path / "ckpt"))
    got = {
        (r["bundle_start"], r["bundle_end"]): r["n_events"]
        for r in spark.sql("SELECT * FROM bundles").collect()
    }

    batch = spark.read.schema(
        stream_events(spark, src).schema
    ).json(src)
    expected = {
        (r["w"]["start"], r["w"]["end"]): r["n"]
        for r in batch.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected
    assert sum(got.values()) == len(events)


def test_streaming_dedup_drops_duplicates(spark, tmp_path):
    events = _mk_events(60)
    dupes = events + events[:20]  # re-deliver 20 events
    src = _write_event_files(tmp_path, dupes)

    deduped = stream_dedup_events(stream_events(spark, src))
    run_available_now(deduped, str(tmp_path / "ckpt2"), str(tmp_path / "out"))
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == 60
    assert got.select("event_id").distinct().count() == 60


def test_streaming_stateful_sessionize(spark, tmp_path):
    """applyInPandasWithState sessionizer: in-batch gap closure emits
    immediately; an open session is emitted by event-time timeout once a
    later batch advances the watermark past session_end + gap."""
    import os
    import time

    from hauser_spark.streaming.incremental import stream_sessionize

    src = tmp_path / "landing"
    src.mkdir()

    def write(name, rows, mtime):
        p = src / name
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (mtime, mtime))

    def ev(eid, ts, user, value):
        return {
            "event_id": eid, "ts": ts, "user_id": user,
            "event_type": "view", "value": value, "props": "{}",
        }

    base = time.time()
    # batch 1 — user 7: two events 5min apart, then a 2h55m gap ⇒ the first
    # session closes in-batch; the 13:00 session stays open in state
    write("a.json", [
        ev(1, "2024-03-01T10:00:00.000Z", 7, 1.0),
        ev(2, "2024-03-01T10:05:00.000Z", 7, 2.0),
        ev(3, "2024-03-01T13:00:00.000Z", 7, 4.0),
    ], base)
    # batch 2 — watermark advances to 15:00 (delay 1h)
    write("b.json", [ev(4, "2024-03-01T16:00:00.000Z", 8, 8.0)], base + 1)
    # batch 3 — processes with watermark 15:00 > user7 timeout 13:30 ⇒
    # user 7's open session emits via timeout
    write("c.json", [ev(5, "2024-03-01T20:00:00.000Z", 9, 16.0)], base + 2)

    sessions = stream_sessionize(stream_events(spark, str(src), max_files_per_trigger=1))
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.n_events, r.total_value): (r.session_start, r.session_end)
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    # user 7's closed-in-batch session (2 events) and timed-out session (1)
    assert (7, 2, 3.0) in got, got
    assert (7, 1, 4.0) in got, got
    s, e = got[(7, 2, 3.0)]
    assert (e - s).total_seconds() == 300
    # availableNow's final batch leaves the watermark at 19:00: user 8's
    # timeout (16:30) has fired, user 9's (20:30) has not — its session
    # stays open in state
    assert (8, 1, 8.0) in got, got
    assert not any(u == 9 for (u, _, _) in got), got


def test_streaming_hopping_counts_match_batch(spark, tmp_path):
    from hauser_spark.streaming import stream_hopping_counts

    events = _mk_events()
    src = _write_event_files(tmp_path, events)

    streamed = stream_hopping_counts(stream_events(spark, src), "1 hour", "15 minutes")
    run_available_now(streamed, str(tmp_path / "ckpt_hop"))
    got = {
        (r["window_start"], r["window_end"]): r["n_events"]
        for r in spark.sql("SELECT * FROM bundles").collect()
    }

    batch = spark.read.schema(stream_events(spark, src).schema).json(src)
    expected = {
        (r["w"]["start"], r["w"]["end"]): r["n"]
        for r in batch.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected
    # every event lands in exactly width/slide = 4 windows
    assert sum(got.values()) == len(events) * 4


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    from hauser_spark.streaming import stream_click_purchase_join

    events = _mk_events()
    src = _write_event_files(tmp_path, events)

    joined = stream_click_purchase_join(
        stream_events(spark, src),
        stream_events(spark, src),
        86400,
        watermark_delay="10 days",  # fixture files are not time-ordered
    )
    run_available_now(joined, str(tmp_path / "ckpt_ss"), str(tmp_path / "out_ss"))
    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.read.parquet(str(tmp_path / "out_ss")).collect()
    }

    batch = spark.read.schema(stream_events(spark, src).schema).json(src)
    c = batch.filter(F.col("event_type") == "click").selectExpr(
        "user_id", "ts AS click_ts", "event_id AS click_id"
    )
    p = batch.filter(F.col("event_type") == "purchase").selectExpr(
        "user_id AS p_user", "ts AS purchase_ts", "event_id AS purchase_id"
    )
    expected = {
        (r["click_id"], r["purchase_id"])
        for r in c.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 86400 SECONDS")
            ),
        ).collect()
    }
    assert got == expected
    assert expected, "fixture must produce at least one joined pair"


def test_streaming_partitioned_load_exactly_once(spark, tmp_path):
    """The partitioned streaming sink lands every event in its day
    partition exactly once, and a restart with the same checkpoint is a
    no-op (manifest-based exactly-once, no repair step)."""
    import os

    from hauser_spark.streaming import stream_partitioned_load

    events = _mk_events()
    src = _write_event_files(tmp_path, events)
    out, ckpt = str(tmp_path / "wh"), str(tmp_path / "ckpt_pl")

    q = stream_partitioned_load(stream_events(spark, src), out, ckpt)
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == len(events)
    days = {d for d in os.listdir(out) if d.startswith("event_day=")}
    assert days == {
        f"event_day=2024-01-0{d}" for d in (1, 2, 3, 4, 5)
    }

    # restart with the same checkpoint: nothing new to process, no dupes
    q2 = stream_partitioned_load(stream_events(spark, src), out, ckpt)
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == len(events)


def test_streaming_rollup_merge_equals_batch(spark, tmp_path):
    """foreachBatch rollup maintenance: after draining the stream (in
    several micro-batches), the persisted state equals the one-shot
    batch rollup of all events — the same merge_rollups combine both
    paths use. A restart on the same checkpoint changes nothing."""
    from hauser_spark.operators.incremental import _partial_rollup
    from hauser_spark.streaming import (
        read_rollup_state,
        stream_events,
        stream_rollup_merge,
    )

    events = _mk_events()
    src = _write_event_files(tmp_path, events, files=4)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt_rm")

    q = stream_rollup_merge(stream_events(spark, src), state, ckpt)
    q.awaitTermination()

    got = sorted(map(tuple, read_rollup_state(spark, state).collect()))
    batch = spark.read.schema(stream_events(spark, src).schema).json(src)
    expected = sorted(map(tuple, _partial_rollup(batch).collect()))
    assert got == expected and expected

    q2 = stream_rollup_merge(stream_events(spark, src), state, ckpt)
    q2.awaitTermination()
    assert sorted(map(tuple, read_rollup_state(spark, state).collect())) == expected


def test_streaming_minhash_dedup_matches_batch_and_grows(spark, tmp_path):
    """Streaming near-dup dedup vs the batch incremental operator:
    decisions against the bootstrap corpus must agree exactly, and a
    near-dup arriving AFTER its original (in a later micro-batch) must
    be caught via index growth — the case the one-shot batch operator
    cannot handle."""
    import json as _json

    from hauser_spark.streaming import (
        bootstrap_minhash_index,
        read_dedup_decisions,
        stream_documents,
        stream_minhash_dedup,
    )

    base = " ".join(f"tok{i} word{i}" for i in range(30))
    other = " ".join(f"u{i} v{i} w{i}" for i in range(25))
    corpus_rows = [
        (1, base),
        (2, other),
        (3, " ".join(f"c3x{j}" for j in range(40))),
    ]
    # batch A: doc 10 near-dups corpus doc 1; doc 11 is novel
    novel = " ".join(f"n11y{j}" for j in range(35))
    batch_a = [(10, base + " tail10a"), (11, novel)]
    # batch B: doc 20 near-dups doc 11 (accepted in batch A, NOT in
    # the bootstrap corpus) — only catchable through index growth
    batch_b = [(20, novel + " tail20b"), (21, " ".join(f"z21{j}" for j in range(28)))]

    def row(doc_id, text):
        return {
            "doc_id": doc_id,
            "text": text,
            "lang": "en",
            "source": "s",
            "n_chars": len(text),
        }

    src = tmp_path / "doc_landing"
    src.mkdir()
    # FileStreamSource orders micro-batches by file mtime — pin distinct
    # timestamps so batch A strictly precedes batch B
    import os as _os
    import time as _time

    now = _time.time()
    with open(src / "a_batch.json", "w") as f:
        for d, t in batch_a:
            f.write(_json.dumps(row(d, t)) + "\n")
    _os.utime(src / "a_batch.json", (now - 60, now - 60))
    with open(src / "b_batch.json", "w") as f:
        for d, t in batch_b:
            f.write(_json.dumps(row(d, t)) + "\n")
    _os.utime(src / "b_batch.json", (now, now))

    corpus = spark.createDataFrame(
        [row(d, t) for d, t in corpus_rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).select("doc_id", "text", "lang", "source", "n_chars")

    index_dir = str(tmp_path / "lsh_index")
    ckpt = str(tmp_path / "ckpt_mh")
    bootstrap_minhash_index(corpus, index_dir)

    q = stream_minhash_dedup(
        stream_documents(spark, str(src), max_files_per_trigger=1),
        index_dir,
        ckpt,
    )
    q.awaitTermination()

    got = {
        (r.d_new, r.d_old) for r in read_dedup_decisions(spark, index_dir).collect()
    }
    # vs-corpus decision: near-dup of a bootstrap-corpus doc is caught
    assert (10, 1) in got
    # growth: doc 20's near-dup target (11) was never in the corpus
    assert (20, 11) in got
    # novel docs are not dropped
    assert not any(d_new in (11, 21) for d_new, _ in got)

    # idempotent restart on the same checkpoint: no new decisions
    q2 = stream_minhash_dedup(
        stream_documents(spark, str(src), max_files_per_trigger=1),
        index_dir,
        ckpt,
    )
    q2.awaitTermination()
    got2 = {
        (r.d_new, r.d_old) for r in read_dedup_decisions(spark, index_dir).collect()
    }
    assert got2 == got


def test_streaming_corpus_stats_equals_batch(spark, tmp_path):
    """Ingest-side stats maintenance: after draining the stream in
    several micro-batches, the versioned state equals the one-shot
    batch partials of the whole corpus — sums and KMV bucket minima are
    both algebraically mergeable, so the equality is exact, not
    approximate. A restart on the same checkpoint changes nothing."""
    import json as _json

    from hauser_spark.streaming import (
        read_corpus_stats,
        stream_corpus_stats,
        stream_documents,
    )
    from hauser_spark.streaming.incremental import _stats_partial

    def row(doc_id, text, source):
        return {
            "doc_id": doc_id,
            "text": text,
            "lang": "en",
            "source": source,
            "n_chars": len(text),
        }

    rows = [
        row(i, " ".join(f"w{i}x{j}" for j in range(10 + i % 5)),
            f"s{i % 3}")
        for i in range(60)
    ]
    src = tmp_path / "stats_landing"
    src.mkdir()
    for part in range(4):
        with open(src / f"p{part}.json", "w") as f:
            for r in rows[part::4]:
                f.write(_json.dumps(r) + "\n")

    state = str(tmp_path / "stats_state")
    ckpt = str(tmp_path / "stats_ckpt")
    docs_stream = stream_documents(
        spark, str(src), max_files_per_trigger=1
    )
    q = stream_corpus_stats(docs_stream, state, ckpt)
    q.awaitTermination()

    got = sorted(map(tuple, read_corpus_stats(spark, state).collect()))

    batch = spark.createDataFrame(
        [tuple(r.values()) for r in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    b_sums, b_buckets = _stats_partial(batch)
    # reconstruct the reader's view from the batch partials
    import hauser_spark.streaming.incremental as inc

    state2 = str(tmp_path / "stats_state_batch")
    b_sums.write.parquet(f"{state2}/v0/sums")
    b_buckets.write.parquet(f"{state2}/v0/buckets")
    expected = sorted(map(tuple, read_corpus_stats(spark, state2).collect()))
    assert got == expected and len(got) == 3
    assert all(v[1] == 20 for v in got)  # 20 docs per source

    # idempotent restart on the drained checkpoint
    q2 = stream_corpus_stats(
        stream_documents(spark, str(src), max_files_per_trigger=1),
        state,
        ckpt,
    )
    q2.awaitTermination()
    assert sorted(map(tuple, read_corpus_stats(spark, state).collect())) == expected


def test_streaming_cdc_compaction_equals_batch(spark, tmp_path):
    """foreachBatch latest-wins compaction: after draining the CDC log
    (one micro-batch per epoch), the persisted state summarizes to
    exactly the batch cdc_log_compaction digest — max_by partials merge
    algebraically across any micro-batch split.  A restart on the same
    checkpoint changes nothing."""
    from hauser_spark.operators.merge import _cdc_log, cdc_log_compaction
    from hauser_spark.functions import money_sum
    from hauser_spark.streaming import stream_cdc_compaction

    sf = "/root/testdata/sf0.001"
    from hauser_spark.tables import load_table

    log = _cdc_log(load_table(spark, sf, "orders"))
    src = tmp_path / "cdc_landing"
    src.mkdir()
    for ep in range(4):
        rows = log.filter(F.col("epoch") == ep).toJSON().collect()
        if rows:
            with open(src / f"epoch{ep}.json", "w") as f:
                f.write("\n".join(rows) + "\n")
    cdc_stream = (
        spark.readStream.schema("k long, epoch int, op string, price double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    state, ckpt = str(tmp_path / "cdc_state"), str(tmp_path / "ckpt_cdc")
    q = stream_cdc_compaction(cdc_stream, state, ckpt)
    q.awaitTermination()

    import os
    import re

    latest = max(
        int(m.group(1))
        for d in os.listdir(state)
        if (m := re.match(r"v(\d+)$", d))
    )
    final = spark.read.parquet(f"{state}/v{latest}")
    got = sorted(
        map(
            tuple,
            final.groupBy("final_op")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                money_sum(F.col("final_price")).alias("total_price"),
                F.sum("n_versions").cast("long").alias("n_log_records"),
            )
            .collect(),
        )
    )
    expected = sorted(map(tuple, cdc_log_compaction(spark, sf).collect()))
    assert got == expected and len(expected) == 3

    q2 = stream_cdc_compaction(
        spark.readStream.schema("k long, epoch int, op string, price double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src)),
        state,
        ckpt,
    )
    q2.awaitTermination()
    final2 = spark.read.parquet(f"{state}/v{latest}")
    got2 = sorted(
        map(
            tuple,
            final2.groupBy("final_op")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                money_sum(F.col("final_price")).alias("total_price"),
                F.sum("n_versions").cast("long").alias("n_log_records"),
            )
            .collect(),
        )
    )
    assert got2 == expected


def test_streaming_hll_registers_equal_batch(spark, tmp_path):
    """Streaming HLL register maintenance: after draining the stream in
    micro-batches, the versioned state equals the one-shot batch
    register partials EXACTLY (register max is the sketch's algebraic
    combine) — hence identical cardinality estimates for any reader.
    A restart on the drained checkpoint changes nothing (max is
    idempotent)."""
    from hauser_spark.operators.sketches import hll_register_partials
    from hauser_spark.streaming import (
        read_hll_registers,
        stream_hll_registers,
    )
    from hauser_spark.streaming.incremental import _committed_versions
    from hauser_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").select("event_id", "event_type")
    src = tmp_path / "hll_landing"
    src.mkdir()
    for part in range(4):
        rows = (
            ev.filter(F.pmod(F.col("event_id"), F.lit(4)) == part)
            .toJSON()
            .collect()
        )
        with open(src / f"p{part}.json", "w") as f:
            f.write("\n".join(rows) + "\n")

    def mk():
        return (
            spark.readStream.schema("event_id long, event_type string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    state = str(tmp_path / "hll_state")
    ckpt = str(tmp_path / "hll_ckpt")
    q = stream_hll_registers(mk(), state, ckpt)
    q.awaitTermination()
    got = sorted(map(tuple, read_hll_registers(spark, state).collect()))
    expected = sorted(
        map(tuple, hll_register_partials(ev).collect())
    )
    assert got == expected and len(expected) > 0
    # state GC: 4 drained batches leave only the replay horizon
    assert len(_committed_versions(state, parts=("regs",))) <= 2

    # idempotent restart on the drained checkpoint
    q2 = stream_hll_registers(mk(), state, ckpt)
    q2.awaitTermination()
    assert (
        sorted(map(tuple, read_hll_registers(spark, state).collect()))
        == expected
    )


def test_streaming_psi_cells_equal_batch(spark, tmp_path):
    """Streaming PSI drift-cell maintenance (12th twin): after draining
    the stream, the versioned cell state equals the one-shot batch
    bucketing EXACTLY (cell-count sum is the monitor's algebraic
    combine), so any PSI a reader derives is identical to
    ``profile_psi_drift``'s. A restart on the drained checkpoint
    changes nothing (versioned landing is idempotent)."""
    from hauser_spark.streaming import read_psi_cells, stream_psi_cells
    from hauser_spark.streaming.incremental import _committed_versions
    from hauser_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    bounds = ev.selectExpr(
        "min(CAST(round(value * 100) AS BIGINT)) AS mn",
        "max(CAST(round(value * 100) AS BIGINT)) AS mx",
        "(min(unix_timestamp(ts)) + max(unix_timestamp(ts))) DIV 2"
        " AS mid",
    ).collect()[0]

    src = tmp_path / "psi_landing"
    src.mkdir()
    for part in range(4):
        rows = (
            ev.filter(F.pmod(F.col("event_id"), F.lit(4)) == part)
            .selectExpr(
                "event_id",
                "CAST(ts AS STRING) AS ts",
                "event_type",
                "value",
            )
            .toJSON()
            .collect()
        )
        with open(src / f"p{part}.json", "w") as f:
            f.write("\n".join(rows) + "\n")

    def mk():
        return (
            spark.readStream.schema(
                "event_id long, ts timestamp, event_type string,"
                " value double"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    state = str(tmp_path / "psi_state")
    ckpt = str(tmp_path / "psi_ckpt")
    q = stream_psi_cells(
        mk(), state, ckpt, bounds.mn, bounds.mx, bounds.mid
    )
    q.awaitTermination()

    from hauser_spark.operators.profile import PSI_BUCKETS

    batch_cells = (
        ev.selectExpr(
            "event_type",
            "unix_timestamp(ts) AS us",
            "CAST(round(value * 100) AS BIGINT) AS cents",
        )
        .selectExpr(
            "event_type",
            f"CASE WHEN us <= {bounds.mid} THEN 1 ELSE 2 END AS period",
            f"least({PSI_BUCKETS - 1},"
            f" (cents - {bounds.mn}) * {PSI_BUCKETS}"
            f" DIV ({bounds.mx} - {bounds.mn} + 1)) AS bucket",
        )
        .groupBy("event_type", "period", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    expected = sorted(map(tuple, batch_cells.collect()))
    got = sorted(map(tuple, read_psi_cells(spark, state).collect()))
    assert got == expected and len(expected) > 0
    # state GC: 4 drained batches leave only the replay horizon
    assert len(_committed_versions(state, parts=("cells",))) <= 2

    # idempotent restart on the drained checkpoint
    q2 = stream_psi_cells(
        mk(), state, ckpt, bounds.mn, bounds.mx, bounds.mid
    )
    q2.awaitTermination()
    assert (
        sorted(map(tuple, read_psi_cells(spark, state).collect()))
        == expected
    )


def test_streaming_cms_cells_equal_batch(spark, tmp_path):
    """Streaming CMS maintenance (13th twin): after draining the
    stream, the versioned D×W cell state equals the one-shot batch
    sketch EXACTLY (cell = Σ token weights is the CMS algebraic
    combine), so any heavy-hitter estimate a reader derives matches
    ``sketch_cms_heavy_hitters``'s sketch side.  A restart on the
    drained checkpoint changes nothing."""
    from hauser_spark.operators.sketches import CMS_D, _cms_bucket
    from hauser_spark.operators.text import tokens_col
    from hauser_spark.streaming import read_cms_cells, stream_cms_cells
    from hauser_spark.streaming.incremental import _committed_versions
    from hauser_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")

    src = tmp_path / "cms_landing"
    src.mkdir()
    for part in range(4):
        rows = (
            docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == part)
            .toJSON()
            .collect()
        )
        with open(src / f"p{part}.json", "w") as f:
            f.write("\n".join(rows) + "\n")

    def mk():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    state = str(tmp_path / "cms_state")
    ckpt = str(tmp_path / "cms_ckpt")
    q = stream_cms_cells(mk(), state, ckpt)
    q.awaitTermination()

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
    batch_cells = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("w"))
        .select("w", rb)
        .select("rb.r", "rb.bucket", "w")
        .groupBy("r", "bucket")
        .agg(F.sum("w").alias("c"))
    )
    expected = sorted(map(tuple, batch_cells.collect()))
    got = sorted(map(tuple, read_cms_cells(spark, state).collect()))
    assert got == expected and len(expected) > 0
    # state GC: 4 drained batches leave only the replay horizon
    assert len(_committed_versions(state, parts=("cells",))) <= 2

    q2 = stream_cms_cells(mk(), state, ckpt)
    q2.awaitTermination()
    assert (
        sorted(map(tuple, read_cms_cells(spark, state).collect()))
        == expected
    )


def test_streaming_url_frontier_matches_batch_rollup(spark, tmp_path):
    """14th twin: streaming canonical-URL frontier dedup (canonicalize
    + dropDuplicatesWithinWatermark) over crawl sightings must keep
    exactly the batch rollup's n_canonical per domain, even when
    sightings are re-delivered across files."""
    import time as _time

    from hauser_spark.operators.urlnorm import url_canonical_rollup
    from hauser_spark.streaming.incremental import (
        run_available_now,
        stream_url_frontier,
        stream_url_sightings,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    sightings = docs.selectExpr(
        "doc_id",
        "source",
        "lang",
        "explode(sequence(0, CAST(substring(source, 4) AS INT) % 3))"
        " AS j",
        "timestamp'2026-01-01 00:00:00' AS ts",
    ).collect()

    src = tmp_path / "landing"
    src.mkdir()
    rows = [
        {
            "doc_id": r["doc_id"],
            "source": r["source"],
            "lang": r["lang"],
            "j": r["j"],
            "ts": "2026-01-01T00:00:00.000Z",
        }
        for r in sightings
    ]
    # three files; the third re-delivers the first third (dup storm)
    third = len(rows) // 3
    chunks = [rows[:third], rows[third:], rows[:third]]
    for i, chunk in enumerate(chunks):
        p = src / f"f{i}.json"
        with open(p, "w") as f:
            for r in chunk:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (_time.time() + i, _time.time() + i))

    frontier = stream_url_frontier(stream_url_sightings(spark, str(src)))
    run_available_now(
        frontier, str(tmp_path / "ckpt"), str(tmp_path / "out")
    )
    got = (
        spark.read.parquet(str(tmp_path / "out"))
        .groupBy("domain")
        .agg(F.countDistinct("curl").alias("n"))
    )
    got_map = {r["domain"]: r["n"] for r in got.collect()}

    batch = url_canonical_rollup(spark, sf)
    exp_map = {r["domain"]: r["n_canonical"] for r in batch.collect()}
    assert got_map == exp_map
    # and the frontier emitted exactly one row per canonical URL
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == out.select("curl").distinct().count()


def test_streaming_compaction_stats_equal_batch(spark, tmp_path):
    """Streaming compaction-planner maintenance (15th twin): after the
    order stream drains, the versioned day-grain state rolls up to the
    EXACT batch ``profile_compaction_planner`` table — row counts and
    byte estimates are additive monoids and ``files_now`` (distinct
    landing days) merges at the bounded day grain, so streaming ingest
    and the one-shot batch plan can never disagree.  A restart on the
    drained checkpoint is a no-op."""
    from hauser_spark.operators.profile import compaction_planner
    from hauser_spark.streaming import (
        read_partition_stats,
        stream_partition_stats,
    )
    from hauser_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_orderdate"
    )

    src = tmp_path / "orders_landing"
    src.mkdir()
    for part in range(4):
        rows = (
            orders.filter(F.pmod(F.col("o_orderkey"), F.lit(4)) == part)
            .toJSON()
            .collect()
        )
        with open(src / f"p{part}.json", "w") as f:
            f.write("\n".join(rows) + "\n")

    def mk():
        return (
            spark.readStream.schema(
                "o_orderkey long, o_orderstatus string,"
                " o_orderpriority string, o_orderdate timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    state = str(tmp_path / "compact_state")
    ckpt = str(tmp_path / "compact_ckpt")
    q = stream_partition_stats(mk(), state, ckpt)
    q.awaitTermination()

    got = read_partition_stats(spark, state).collect()
    want = compaction_planner(spark, sf).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    # restart on the drained checkpoint: no new version, same table
    q2 = stream_partition_stats(mk(), state, ckpt)
    q2.awaitTermination()
    again = read_partition_stats(spark, state).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in want]


def test_streaming_source_volume_equals_batch_card(spark, tmp_path):
    """Streaming dataset-card volume maintenance (16th twin): after the
    document stream drains, the versioned (source, lang) state rolls up
    to EXACTLY the volume/language/fertility columns of the batch
    ``curation_dataset_card`` — counts and token/char sums are additive
    monoids at the bounded (source, lang) grain, and top-lang /
    fertility are read-time projections, so ingest maintenance and the
    one-shot batch card can never disagree on the columns both own.  A
    restart on the drained checkpoint is a no-op."""
    from hauser_spark.operators.curation import dataset_card
    from hauser_spark.streaming import (
        read_source_volume,
        stream_source_volume,
    )
    from hauser_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "text", "lang", "source"
    )

    src = tmp_path / "docs_landing"
    src.mkdir()
    for part in range(4):
        rows = (
            docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == part)
            .toJSON()
            .collect()
        )
        with open(src / f"p{part}.json", "w") as f:
            f.write("\n".join(rows) + "\n")

    def mk():
        return (
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    state = str(tmp_path / "vol_state")
    ckpt = str(tmp_path / "vol_ckpt")
    q = stream_source_volume(mk(), state, ckpt)
    q.awaitTermination()

    got = read_source_volume(spark, state).collect()
    want = [
        (
            r.source,
            r.n_docs,
            r.raw_tokens,
            r.n_langs,
            r.top_lang,
            r.chars_per_token_ppm,
        )
        for r in dataset_card(spark, sf).collect()
    ]
    assert [tuple(r) for r in got] == want

    # restart on the drained checkpoint: no new version, same table
    q2 = stream_source_volume(mk(), state, ckpt)
    q2.awaitTermination()
    again = read_source_volume(spark, state).collect()
    assert [tuple(r) for r in again] == want


# ------------------------------------- streaming lateness twin
def test_streaming_lateness_equals_batch_profile(spark, tmp_path):
    """17th twin: after the arrival-ordered event stream drains, the
    one-row counter state unrolls to EXACTLY the batch
    events_lateness_profile table; a restart on the drained checkpoint
    is a no-op."""
    import os

    from hauser_spark.plans.events import (
        events_with_arrival,
        lateness_profile,
    )
    from hauser_spark.streaming import (
        read_lateness_profile,
        stream_lateness_counters,
    )

    sf = "/root/testdata/sf0.001"
    ev = events_with_arrival(spark, sf).select(
        "event_id", "ts_us", "arrival_us"
    )
    # land 4 files split on ARRIVAL quartiles, mtimes increasing so the
    # file source replays them in arrival order
    qs = ev.approxQuantile("arrival_us", [0.25, 0.5, 0.75], 0.0)
    bounds = [float("-inf")] + qs + [float("inf")]
    src = tmp_path / "ev_landing"
    src.mkdir()
    for part in range(4):
        rows = (
            ev.filter(
                (F.col("arrival_us") > bounds[part])
                & (F.col("arrival_us") <= bounds[part + 1])
            )
            .toJSON()
            .collect()
        )
        p = src / f"p{part}.json"
        with open(p, "w") as f:
            f.write("\n".join(rows) + "\n")
        os.utime(p, (1700000000 + part, 1700000000 + part))

    def mk():
        return (
            spark.readStream.schema(
                "event_id long, ts_us long, arrival_us long"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    state = str(tmp_path / "late_state")
    ckpt = str(tmp_path / "late_ckpt")
    q = stream_lateness_counters(mk(), state, ckpt)
    q.awaitTermination()

    got = [tuple(r) for r in read_lateness_profile(spark, state).collect()]
    want = [tuple(r) for r in lateness_profile(spark, sf).collect()]
    assert got == want

    q2 = stream_lateness_counters(mk(), state, ckpt)
    q2.awaitTermination()
    again = [tuple(r) for r in read_lateness_profile(spark, state).collect()]
    assert again == want


def test_streaming_lateness_survives_empty_batch(spark, tmp_path):
    """An EMPTY micro-batch between two data batches must be a state
    no-op: pre-fix, the empty batch's NULL counter sums poisoned every
    later merge and the recomputed watermark regressed to NULL
    (undercounting all subsequent lateness).  Final state must still
    equal the batch lateness profile."""
    import os

    from hauser_spark.plans.events import (
        events_with_arrival,
        lateness_profile,
    )
    from hauser_spark.streaming import (
        read_lateness_profile,
        stream_lateness_counters,
    )

    sf = "/root/testdata/sf0.001"
    ev = events_with_arrival(spark, sf).select(
        "event_id", "ts_us", "arrival_us"
    )
    med = ev.approxQuantile("arrival_us", [0.5], 0.0)[0]
    src = tmp_path / "ev_landing_empty"
    src.mkdir()
    halves = [
        ev.filter(F.col("arrival_us") <= med),
        None,  # empty micro-batch between the two halves
        ev.filter(F.col("arrival_us") > med),
    ]
    for i, half in enumerate(halves):
        p = src / f"p{i}.json"
        with open(p, "w") as f:
            if half is not None:
                f.write("\n".join(half.toJSON().collect()) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))

    def mk():
        return (
            spark.readStream.schema(
                "event_id long, ts_us long, arrival_us long"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    state = str(tmp_path / "late_state_empty")
    ckpt = str(tmp_path / "late_ckpt_empty")
    q = stream_lateness_counters(mk(), state, ckpt)
    q.awaitTermination()

    got = [tuple(r) for r in read_lateness_profile(spark, state).collect()]
    want = [tuple(r) for r in lateness_profile(spark, sf).collect()]
    assert got == want


# --------------------------------- streaming drift fingerprint twin


def test_streaming_fingerprint_equals_batch_fingerprint(spark, tmp_path):
    """18th twin: after the event stream drains, the ingest-maintained
    per-event_type counters unroll to EXACTLY the events slice of the
    batch drift fingerprint (profile.drift_fingerprint) — counts,
    null counters, and cents sums are additive monoids, so ingest
    maintenance and the snapshot scan can never disagree.  Restart on
    the drained checkpoint is a no-op."""
    from hauser_spark.operators.profile import drift_fingerprint
    from hauser_spark.streaming import (
        read_drift_fingerprint,
        stream_drift_fingerprint,
    )
    from hauser_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").select(
        "event_id", "event_type", "value"
    )
    src = tmp_path / "fp_landing"
    src.mkdir()
    for part in range(4):
        rows = (
            ev.filter(F.pmod(F.col("event_id"), F.lit(4)) == part)
            .toJSON()
            .collect()
        )
        with open(src / f"p{part}.json", "w") as f:
            f.write("\n".join(rows) + "\n")

    def mk():
        return (
            spark.readStream.schema(
                "event_id long, event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    state = str(tmp_path / "fp_state")
    ckpt = str(tmp_path / "fp_ckpt")
    q = stream_drift_fingerprint(mk(), state, ckpt)
    q.awaitTermination()

    got = [tuple(r) for r in read_drift_fingerprint(spark, state).collect()]
    want = [
        tuple(r)
        for r in drift_fingerprint(spark, sf, perturbed=False)
        .filter("tbl = 'events'")
        .orderBy("seg", "stat")
        .collect()
    ]
    assert got == want

    q2 = stream_drift_fingerprint(mk(), state, ckpt)
    q2.awaitTermination()
    again = [tuple(r) for r in read_drift_fingerprint(spark, state).collect()]
    assert again == want


def test_streaming_two_fingerprint_drift_diff_equals_batch(spark, tmp_path):
    """19th twin — the drift harness END TO END with zero snapshot
    scans: TWO ingest-maintained fingerprints (the base event stream
    and the same stream perturbed at ingest by the deterministic P1/P2
    device) are diffed state-table-to-state-table
    (diff_fingerprint_states) and must equal EXACTLY the events slice
    of the batch profile_snapshot_drift table — same flagged cells
    (the planted click-drop and purchase-null perturbations), every
    unperturbed stat diffing to 0.  Restarting both drained streams is
    a no-op on the diff."""
    from hauser_spark.operators.profile import perturb_events, snapshot_drift
    from hauser_spark.streaming import (
        diff_fingerprint_states,
        stream_drift_fingerprint,
    )
    from hauser_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").select(
        "event_id", "event_type", "value"
    )
    src = tmp_path / "fp2_landing"
    src.mkdir()
    for part in range(4):
        rows = (
            ev.filter(F.pmod(F.col("event_id"), F.lit(4)) == part)
            .toJSON()
            .collect()
        )
        with open(src / f"p{part}.json", "w") as f:
            f.write("\n".join(rows) + "\n")

    def mk():
        return (
            spark.readStream.schema(
                "event_id long, event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    st_base = str(tmp_path / "fp2_base_state")
    st_pert = str(tmp_path / "fp2_pert_state")
    qa = stream_drift_fingerprint(
        mk(), st_base, str(tmp_path / "fp2_base_ckpt")
    )
    qa.awaitTermination()
    # the SECOND run: same stream, perturbed at ingest (P1 click drop,
    # P2 purchase-value nulling) — the exact expressions the batch
    # fingerprint uses, applied to the streaming frame
    qb = stream_drift_fingerprint(
        perturb_events(mk()), st_pert, str(tmp_path / "fp2_pert_ckpt")
    )
    qb.awaitTermination()

    got = [
        tuple(r)
        for r in diff_fingerprint_states(spark, st_base, st_pert).collect()
    ]
    want = [
        tuple(r)
        for r in snapshot_drift(spark, sf)
        .filter("tbl = 'events'")
        .orderBy("tbl", "seg", "stat")
        .collect()
    ]
    assert got == want
    # the diff flags SOMETHING (the planted cells) and not everything
    flags = [r[-1] for r in got]
    assert any(flags) and not all(flags)

    # restart both drained streams: no new state version, same diff
    qa2 = stream_drift_fingerprint(
        mk(), st_base, str(tmp_path / "fp2_base_ckpt")
    )
    qa2.awaitTermination()
    qb2 = stream_drift_fingerprint(
        perturb_events(mk()), st_pert, str(tmp_path / "fp2_pert_ckpt")
    )
    qb2.awaitTermination()
    again = [
        tuple(r)
        for r in diff_fingerprint_states(spark, st_base, st_pert).collect()
    ]
    assert again == want


# --------------------------------- streaming centroid maintenance


def test_streaming_centroids_equal_batch_index(spark, tmp_path):
    """20th twin — the FIX sim_ivf_staleness_audit prices: per-(label,
    dim) integer micro-sums and counts are additive monoids, so the
    FRESH IVF coarse-centroid table is maintained by ingest and must
    unroll to EXACTLY similarity._structured_centroids of the same
    (drifted structured) corpus — the index rebuild becomes a tiny
    state read, never a corpus scan.  Restart on the drained
    checkpoint is a no-op."""
    from hauser_spark.operators.similarity import (
        _structured_centroids,
        embeddings_with_structure,
    )
    from hauser_spark.streaming import read_centroids, stream_centroid_sums

    sf = "/root/testdata/sf0.001"
    emb = embeddings_with_structure(spark, sf, drifted=True)
    src = tmp_path / "cent_landing"
    src.mkdir()
    for part in range(4):
        rows = (
            emb.filter(F.pmod(F.col("vec_id"), F.lit(4)) == part)
            .toJSON()
            .collect()
        )
        with open(src / f"p{part}.json", "w") as f:
            f.write("\n".join(rows) + "\n")

    def mk():
        return (
            spark.readStream.schema(
                "vec_id long, label int, v array<double>"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    state = str(tmp_path / "cent_state")
    ckpt = str(tmp_path / "cent_ckpt")
    q = stream_centroid_sums(mk(), state, ckpt)
    q.awaitTermination()

    got = [
        (r.label, tuple(r.cv))
        for r in read_centroids(spark, state).orderBy("label").collect()
    ]
    want = [
        (r.label, tuple(r.cv))
        for r in _structured_centroids(emb).orderBy("label").collect()
    ]
    assert got == want
    assert len(got) >= 2

    q2 = stream_centroid_sums(mk(), state, ckpt)
    q2.awaitTermination()
    again = [
        (r.label, tuple(r.cv))
        for r in read_centroids(spark, state).orderBy("label").collect()
    ]
    assert again == want


def test_version_gc_keeps_replay_horizon(tmp_path):
    """_gc_versions (ADVICE r10): committed versions older than the
    newest two are dropped after a successful write; partial (marker-
    less) dirs are never touched — they belong to a replaying writer."""
    from hauser_spark.streaming.incremental import (
        _committed_versions,
        _gc_versions,
    )

    state = tmp_path / "state"
    for n in (1, 2, 3, 4):
        d = state / f"v{n}"
        d.mkdir(parents=True)
        (d / "_SUCCESS").touch()
    partial = state / "v5"
    partial.mkdir()  # no _SUCCESS: crash mid-write
    _gc_versions(str(state))
    assert sorted(_committed_versions(str(state))) == [3, 4]
    assert partial.is_dir(), "partial version must survive GC"
    # two-part state: marker required in every part
    state2 = tmp_path / "state2"
    for n in (1, 2, 3):
        for p in ("sums", "buckets"):
            d = state2 / f"v{n}" / p
            d.mkdir(parents=True)
            (d / "_SUCCESS").touch()
    _gc_versions(str(state2), parts=("sums", "buckets"))
    assert sorted(
        _committed_versions(str(state2), parts=("sums", "buckets"))
    ) == [2, 3]


def test_streaming_funnel_equals_batch_at_buffer(spark, tmp_path):
    """22nd twin: the per-user funnel chain state maintained by ingest
    at a fixed reorder buffer D unrolls to EXACTLY the batch
    events_funnel_under_lateness row for buffer_sec = D (both the
    buffered counters and the event-time truth); a restart on the
    drained checkpoint is a no-op."""
    import os

    from hauser_spark.plans.events import (
        events_with_arrival,
        funnel_under_lateness,
    )
    from hauser_spark.streaming import (
        read_funnel_conversions,
        stream_funnel_state,
    )

    sf = "/root/testdata/sf0.001"
    D = 1800
    ev = events_with_arrival(spark, sf).select(
        "event_id", "user_id", "event_type", "ts_us", "arrival_us"
    )
    qs = ev.approxQuantile("arrival_us", [0.25, 0.5, 0.75], 0.0)
    bounds = [float("-inf")] + qs + [float("inf")]
    src = tmp_path / "ev_landing"
    src.mkdir()
    for part in range(4):
        rows = (
            ev.filter(
                (F.col("arrival_us") > bounds[part])
                & (F.col("arrival_us") <= bounds[part + 1])
            )
            .toJSON()
            .collect()
        )
        p = src / f"p{part}.json"
        with open(p, "w") as f:
            f.write("\n".join(rows) + "\n")
        os.utime(p, (1700000000 + part, 1700000000 + part))

    def mk():
        return (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string,"
                " ts_us long, arrival_us long"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    state = str(tmp_path / "funnel_state")
    ckpt = str(tmp_path / "funnel_ckpt")
    q = stream_funnel_state(mk(), state, ckpt, buffer_sec=D)
    q.awaitTermination()

    got = [
        tuple(r)
        for r in read_funnel_conversions(spark, state, buffer_sec=D)
        .collect()
    ]
    want = [
        tuple(r)
        for r in funnel_under_lateness(spark, sf)
        .filter(F.col("buffer_sec") == D)
        .collect()
    ]
    assert got == want
    # the pending buffer must be horizon-bounded, not the whole stream
    import glob
    import json as _json

    vdirs = sorted(glob.glob(f"{state}/v*"))
    pend = spark.read.parquet(f"{vdirs[-1]}/pending")
    n_total = ev.count()
    assert pend.count() < 2 * n_total, "pending grew past the horizon"

    q2 = stream_funnel_state(mk(), state, ckpt, buffer_sec=D)
    q2.awaitTermination()
    again = [
        tuple(r)
        for r in read_funnel_conversions(spark, state, buffer_sec=D)
        .collect()
    ]
    assert again == want


def test_streaming_misroute_equals_batch_decay_row(spark, tmp_path):
    """23rd twin: vectors of the age-1 DRIFTED corpus streamed against
    the ingest-maintained age-0 centroid state produce EXACTLY the
    batch sim_index_misroute_decay row's (n, misroute_stale_ppm) at
    index_age = 1; a restart on the drained checkpoint is a no-op."""
    import os

    from hauser_spark.operators.similarity import (
        embeddings_at_epoch,
        index_misroute_decay,
    )
    from hauser_spark.streaming import (
        read_misroute_rate,
        stream_centroid_sums,
        stream_misroute_counters,
    )

    sf = "/root/testdata/sf0.001"

    def land(df, cols, d):
        d.mkdir()
        rows = df.toJSON().collect()
        k = max(1, len(rows) // 3)
        for part in range(3):
            p = d / f"p{part}.json"
            chunk = rows[part * k:] if part == 2 else rows[part * k:(part + 1) * k]
            with open(p, "w") as f:
                f.write("\n".join(chunk) + "\n")
            os.utime(p, (1700000000 + part, 1700000000 + part))

    base = embeddings_at_epoch(spark, sf, 0).select("vec_id", "label", "v")
    drift = embeddings_at_epoch(spark, sf, 1).select("vec_id", "label", "v")
    land(base, None, tmp_path / "base_landing")
    land(drift, None, tmp_path / "drift_landing")
    schema = "vec_id long, label int, v array<double>"

    cent_state = str(tmp_path / "cent_state")
    q = stream_centroid_sums(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "base_landing")),
        cent_state,
        str(tmp_path / "cent_ckpt"),
    )
    q.awaitTermination()

    def mk():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(tmp_path / "drift_landing"))
        )

    mis_state = str(tmp_path / "mis_state")
    ckpt = str(tmp_path / "mis_ckpt")
    q2 = stream_misroute_counters(mk(), cent_state, mis_state, ckpt)
    q2.awaitTermination()

    got = read_misroute_rate(spark, mis_state).collect()[0]
    want = (
        index_misroute_decay(spark, sf)
        .filter(F.col("index_age") == 1)
        .collect()[0]
    )
    assert got["n"] == drift.count()
    assert got["misroute_ppm"] == want["misroute_stale_ppm"], (
        got,
        want,
    )
    # restart no-op
    q3 = stream_misroute_counters(mk(), cent_state, mis_state, ckpt)
    q3.awaitTermination()
    again = read_misroute_rate(spark, mis_state).collect()[0]
    assert tuple(again) == tuple(got)


def test_read_dedup_decisions_skips_torn_partition(spark, tmp_path):
    """A decisions partition without ``_SUCCESS`` — a crash mid-write —
    is invisible to readers until its micro-batch replays and rewrites
    it; the committed partitions still read."""
    from hauser_spark.streaming import read_dedup_decisions

    decisions = tmp_path / "lsh_index" / "decisions"
    schema = "d_new long, d_old long, jaccard double"
    spark.createDataFrame([(10, 1, 0.9)], schema).write.parquet(
        str(decisions / "batch=0")
    )
    torn = decisions / "batch=99"
    spark.createDataFrame([(99, 2, 0.95)], schema).write.parquet(str(torn))
    (torn / "_SUCCESS").unlink()

    got = read_dedup_decisions(spark, str(tmp_path / "lsh_index")).collect()
    assert [(r.d_new, r.d_old) for r in got] == [(10, 1)]
