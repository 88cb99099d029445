"""Round-7 property tests: ADVICE-driven guards and new invariants."""

from pyspark.sql import functions as F  # noqa: F401

SF = "/root/testdata/sf0.01"


def test_welch_ttest_degenerate_arm_is_guarded(spark, tmp_path):
    """An empty (or singleton) weekend arm must yield NULL t/df, a NULL
    (empty) or defined (singleton) mean_diff, and reject_equal_means=0
    — not a division-by-zero NaN cascade (ADVICE r6)."""
    from hauser_spark.operators.stats import welch_ttest

    sf = str(tmp_path / "sf_synth")
    # 50 purchases, all on a Monday (2026-01-05) -> weekend arm empty
    (
        spark.range(50)
        .selectExpr(
            "CAST(id AS STRING) AS user_id",
            "timestamp'2026-01-05 12:00:00' + make_interval(0,0,0,0,0,0,id)"
            " AS ts",
            "'purchase' AS event_type",
            "1.0 + id AS value",
        )
        .write.parquet(f"{sf}/events.parquet")
    )
    r = welch_ttest(spark, sf).collect()[0]
    assert r.n_weekend == 0 and r.n_weekday == 50
    assert r.mean_diff is None
    assert r.t_value is None and r.welch_df is None
    assert r.reject_equal_means == 0

    # singleton weekend arm (one Saturday event): mean_diff defined,
    # t/df still NULL (variance of a singleton is undefined)
    sf2 = str(tmp_path / "sf_synth2")
    (
        spark.range(50)
        .selectExpr(
            "CAST(id AS STRING) AS user_id",
            "IF(id = 0, timestamp'2026-01-03 12:00:00',"
            " timestamp'2026-01-05 12:00:00') AS ts",
            "'purchase' AS event_type",
            "1.0 + id AS value",
        )
        .write.parquet(f"{sf2}/events.parquet")
    )
    r2 = welch_ttest(spark, sf2).collect()[0]
    assert r2.n_weekend == 1 and r2.n_weekday == 49
    assert r2.mean_diff is not None
    assert r2.t_value is None and r2.welch_df is None
    assert r2.reject_equal_means == 0


def test_welch_ttest_normal_path_unchanged(spark):
    """On the real sf0.01 data (both arms populous) the guard is inert:
    t/df are non-NULL and the flag agrees with |t| vs the 5% z."""
    from hauser_spark.operators.stats import welch_ttest

    r = welch_ttest(spark, SF).collect()[0]
    assert r.n_weekend >= 2 and r.n_weekday >= 2
    assert r.t_value is not None and r.welch_df is not None
    assert r.reject_equal_means == (1 if abs(r.t_value) > 1.959964 else 0)


def test_memo_put_bounds_and_evicts_cross_app():
    """Session memos hold localCheckpoint blocks; the memo decorator must
    cap per-application sf_dirs FIFO and eagerly drop entries from
    other (dead) applications (ADVICE r6)."""
    from types import SimpleNamespace

    from hauser_spark.memo import MEMO_MAX_ENTRIES, session_memo

    def session(app):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))

    @session_memo
    def build(spark, sf_dir):
        return sf_dir

    memo = build.memo
    for i in range(MEMO_MAX_ENTRIES + 3):
        build(session("app-1"), f"sf{i}")
    assert len(memo) == MEMO_MAX_ENTRIES
    # FIFO: oldest sf_dirs evicted, newest retained
    assert ("app-1", "sf0") not in memo
    assert ("app-1", f"sf{MEMO_MAX_ENTRIES + 2}") in memo
    # a new application evicts every stale entry
    build(session("app-2"), "sfX")
    assert list(memo) == [("app-2", "sfX")]

    # the bound counts sf_dirs, not entries: extra arguments (a table
    # name) share their sf_dir's slot and are evicted with it
    @session_memo
    def table(spark, sf_dir, name):
        return name

    for i in range(MEMO_MAX_ENTRIES):
        for name in ("a", "b"):
            table(session("app-1"), f"sf{i}", name)
    assert len(table.memo) == 2 * MEMO_MAX_ENTRIES
    table(session("app-1"), "sfN", "a")
    assert {k[1] for k in table.memo} == {
        f"sf{i}" for i in range(1, MEMO_MAX_ENTRIES)
    } | {"sfN"}
    assert len(table.memo) == 2 * MEMO_MAX_ENTRIES - 1


def test_memoized_families_still_share_frames(spark):
    """The bounded memo must not break sharing: two curation queries in
    the same session reuse one checkpointed verdict frame."""
    from hauser_spark.operators import curation

    memo = curation.curate_verdicts_cached.memo
    memo.clear()
    curation.effective_tokens(spark, SF).collect()
    assert len(memo) == 1
    first = next(iter(memo.values()))
    curation.shard_skew(spark, SF).collect()
    assert next(iter(memo.values())) is first


def test_url_canonicalizer_handles_the_standard_messes(spark):
    """Hand-written raw URLs -> expected canonical forms: case, www,
    default ports, tracking params, param order, fragments, trailing
    slashes, non-default port retention."""
    from hauser_spark.operators.urlnorm import canonical_url_sql

    cases = [
        ("HTTP://WWW.Ex.COM:80/p/1/?utm_source=x&b=2&a=1#frag",
         "http://ex.com/p/1?a=1&b=2"),
        ("https://ex.com:443/", "https://ex.com/"),
        ("https://ex.com:8443/x", "https://ex.com:8443/x"),
        ("http://ex.com/p/2?lang=en&id=2",
         "http://ex.com/p/2?id=2&lang=en"),
        ("http://ex.com/p/2?id=2&lang=en",
         "http://ex.com/p/2?id=2&lang=en"),
        ("http://ex.com", "http://ex.com/"),
        ("http://ex.com/?ref=feed&utm_medium=m", "http://ex.com/"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r.c
        for r in df.selectExpr(
            f"{canonical_url_sql('url', 'spark')} AS c"
        ).collect()
    ]
    assert got == [c for _, c in cases], list(zip(got, cases))

    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE u(url VARCHAR)")
    con.executemany("INSERT INTO u VALUES (?)", [(u,) for u, _ in cases])
    dgot = [
        r[0]
        for r in con.execute(
            f"SELECT {canonical_url_sql('url', 'duckdb')} FROM u"
        ).fetchall()
    ]
    assert dgot == got, list(zip(dgot, got))


def test_calibration_curve_masses_and_monotone_bins(spark):
    from hauser_spark.operators.quality import calibration_curve

    rows = calibration_curve(spark, SF).collect()
    n = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n
    preds = [r.mean_pred_ppm for r in rows]
    assert preds == sorted(preds)  # bin means rise with the bin
    for r in rows:
        assert 0 <= r.pass_rate_ppm <= 1_000_000
        assert r.gap_ppm == r.mean_pred_ppm - r.pass_rate_ppm


def test_tokenizer_fertility_conservation(spark):
    from hauser_spark.operators.text import bpe_apply, tokenizer_fertility

    rows = tokenizer_fertility(spark, SF).collect()
    for r in rows:
        assert r.tokens_bpe <= r.tokens_ws  # merges only shrink
        assert r.n_bytes >= r.tokens_ws  # >= 1 byte/word
    # totals agree with the per-source apply view of the same corpus
    by_src = bpe_apply(spark, SF).collect()
    assert sum(r.tokens_after for r in by_src) == sum(
        r.tokens_bpe for r in rows
    )


def test_id_islands_partition_the_ids(spark):
    from hauser_spark.operators.profile import id_gap_islands

    rows = id_gap_islands(spark, SF).collect()
    ev = spark.read.parquet(f"{SF}/events.parquet")
    per_type = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for r in rows:
        assert r.n_rows == per_type[r.event_type]
        assert 1 <= r.max_len
        assert r.n_islands <= r.n_rows


def test_poisson_bootstrap_interval_brackets_mean(spark):
    from hauser_spark.operators.stats import poisson_bootstrap_ci

    r = poisson_bootstrap_ci(spark, SF).collect()[0]
    assert r.ci_lo <= r.mean_value <= r.ci_hi
    assert r.se > 0
    # the interval is a few se wide, not degenerate and not huge
    assert (r.ci_hi - r.ci_lo) < 10 * r.se * 2


def test_dsir_target_language_ranks_first(spark):
    from hauser_spark.operators.curation import (
        DSIR_TARGET_LANG,
        dsir_weights,
    )

    rows = dsir_weights(spark, SF).collect()
    best = max(rows, key=lambda r: r.mean_loglik_ratio)
    assert best.lang == DSIR_TARGET_LANG


def test_kappa_is_bounded_and_consistent(spark):
    from hauser_spark.operators.quality import rater_kappa

    r = rater_kappa(spark, SF).collect()[0]
    assert (
        r.n_both_keep + r.n_rules_only + r.n_model_only + r.n_both_drop
        == r.n_docs
    )
    assert -1.0 <= r.kappa <= 1.0
    assert abs(
        r.p_observed - (r.n_both_keep + r.n_both_drop) / r.n_docs
    ) < 1e-6


def test_cross_ndv_ratio_bounds(spark):
    from hauser_spark.operators.profile import cross_column_ndv

    for r in cross_column_ndv(spark, SF).collect():
        assert max(r.ndv_a, r.ndv_b) <= r.ndv_pair <= r.ndv_a * r.ndv_b
        assert 0 < r.independence_ppm <= 1_000_000


def test_zorder_prunes_strictly_better(spark):
    from hauser_spark.operators.profile import zorder_pruning_gain

    rows = {r.layout: r for r in zorder_pruning_gain(spark, SF).collect()}
    assert rows["zorder"].files_scanned < rows["natural"].files_scanned
    for r in rows.values():
        assert r.files_scanned <= r.n_files


def test_eb_shrinkage_contracts_toward_pool(spark):
    from hauser_spark.operators.quality import eb_shrunk_rates

    rows = eb_shrunk_rates(spark, SF).collect()
    pooled = sum(r.n_kept for r in rows) / sum(r.n_docs for r in rows)
    for r in rows:
        lo, hi = sorted((r.raw_rate, pooled))
        assert lo - 1e-6 <= r.shrunk_rate <= hi + 1e-6


def test_sprt_decision_freezes_after_first_crossing(spark):
    from hauser_spark.operators.stats import sprt_monitor

    rows = sprt_monitor(spark, SF).collect()
    decisions = [r.decision for r in rows]
    if any(d != "continue" for d in decisions):
        first = next(i for i, d in enumerate(decisions) if d != "continue")
        assert all(d == decisions[first] for d in decisions[first:])
        assert all(d == "continue" for d in decisions[:first])


def test_srm_masses_match_daily_users(spark):
    from hauser_spark.operators.stats import srm_check

    rows = srm_check(spark, SF).collect()
    ev = spark.read.parquet(f"{SF}/events.parquet")
    daily = {
        r.day: r.n
        for r in ev.selectExpr("CAST(ts AS DATE) AS day", "user_id")
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in rows:
        assert r.users_a + r.users_b == daily[r.day]
