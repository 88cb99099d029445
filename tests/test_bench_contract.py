"""The bench stdout contract: ONE parseable JSON line, never longer than
the harness's 2000-char stdout capture, slowest queries always present."""

import json

import bench


def _full(n_queries: int, name_len: int = 28) -> dict:
    timings = {
        f"q{'x' * name_len}{i:04d}": round(0.1 + i * 0.01, 3)
        for i in range(n_queries)
    }
    total = sum(timings.values())
    return {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "sf": 0.1,
        "n_queries": n_queries,
        "per_query_mean_sec": round(total / n_queries, 3),
        "queries": timings,
    }


def test_line_fits_capture_and_parses_at_any_scale():
    for n in (5, 91, 400):
        line = bench.build_summary_line(_full(n))
        assert len(line) <= 2000, (n, len(line))
        parsed = json.loads(line)
        assert parsed["n_queries"] == n
        assert parsed["queries_file"] == "BENCH_FULL.json"
        assert parsed["queries"], "at least one per-query entry survives"


def test_slowest_queries_kept_first():
    full = _full(400)
    parsed = json.loads(bench.build_summary_line(full))
    kept = parsed["queries"]
    slowest = max(full["queries"], key=full["queries"].get)
    assert slowest in kept
    # everything kept is at least as slow as everything dropped
    floor = min(kept.values())
    dropped = [v for k, v in full["queries"].items() if k not in kept]
    assert all(v <= floor for v in dropped)


def test_small_suite_keeps_every_query():
    full = _full(10)
    parsed = json.loads(bench.build_summary_line(full))
    assert parsed["queries"] == full["queries"]


def test_local_control_factors_flat_run_is_unity():
    # quiet host: every probe sample at the same level -> factors ~1.0
    samples = [(float(k * 5), 0.12) for k in range(21)]
    f = bench.local_control_factors(100, samples)
    assert len(f) == 100
    assert all(abs(x - 1.0) < 1e-9 for x in f)


def test_local_control_factors_detect_throttle_window():
    # host throttles 2x between positions 40 and 60; queries inside the
    # band get factor ~2, queries outside stay ~1, and dividing the raw
    # times by the factors recovers the quiet-host map — the exact
    # failure mode (round-10 multi-minute throttling windows) a single
    # global factor cannot correct
    samples = []
    for k in range(21):
        pos = float(k * 5)
        t = 0.24 if 40 <= pos <= 60 else 0.12
        samples.append((pos, t))
    f = bench.local_control_factors(100, samples)
    assert abs(f[10] - 1.0) < 0.05, f[10]   # quiet zone
    assert abs(f[50] - 2.0) < 0.05, f[50]   # inside the band
    assert abs(f[90] - 1.0) < 0.05, f[90]   # quiet again
    # a 0.5 s query measured inside the band at 1.0 s detrends back
    assert abs(1.0 / f[50] - 0.5) < 0.02
    # interpolation ramps across the band edge (between the quiet sample
    # at 35 and the first in-band sample at 40) rather than stepping
    assert 1.0 < f[37] < 2.0


def test_local_control_factors_degenerate_inputs():
    assert bench.local_control_factors(5, []) == [1.0] * 5
    assert bench.local_control_factors(5, [(0.0, 0.1)]) == [1.0] * 5
    # zero/negative probe times must not divide by zero
    assert bench.local_control_factors(3, [(0.0, 0.0), (3.0, 0.0)]) == [
        1.0,
        1.0,
        1.0,
    ]


def test_bench_full_carries_micro_control_fields():
    """Format pin (VERDICT r10 task 1): BENCH_FULL.json rows must carry
    local_control_factor and the micro_control block once a full run has
    been committed this round."""
    import os

    path = os.path.join(os.path.dirname(bench.__file__), "BENCH_FULL.json")
    full = json.load(open(path))
    if "local_control_factor" not in full:
        import pytest

        pytest.skip("committed BENCH_FULL predates the micro-control")
    assert set(full["local_control_factor"]) == set(full["queries"])
    mc = full["micro_control"]
    assert mc["every"] >= 1 and mc["ref_sec"] > 0
    assert len(mc["samples"]) >= 2
    assert set(full["queries_detrended"]) == set(full["queries"])


def test_drift_model_recovers_floor_and_slope():
    # synthetic host: fixed 0.15 s overhead floor + 1.3x slower compute
    timings = {
        n: round(0.15 + 1.3 * v, 4)
        for n, v in bench._CONTROL_REFERENCE.items()
    }
    floor, slope = bench.drift_model(timings)
    assert abs(floor - 0.15) < 0.02, floor
    assert abs(slope - 1.3) < 0.05, slope
    # inverse map sends every control back to its pinned reference
    for n, v in timings.items():
        ref = bench._CONTROL_REFERENCE[n]
        norm = bench.normalize_to_reference(v, (floor, slope))
        assert abs(norm - ref) < 0.03, (n, norm, ref)


def test_drift_model_robust_to_one_outlier():
    timings = {
        n: round(0.1 + 1.0 * v, 4)
        for n, v in bench._CONTROL_REFERENCE.items()
    }
    timings["graph_pagerank"] = 30.0  # one control hit a GC pause
    floor, slope = bench.drift_model(timings)
    assert abs(slope - 1.0) < 0.15, slope
    assert abs(floor - 0.1) < 0.1, floor


def test_drift_model_degenerates_to_none():
    assert bench.drift_model({"q1_pricing_summary": 0.5}) is None


def test_drift_model_floor_never_exceeds_fastest_control():
    # round-11 mis-fit class: a throttle window landing on the FAST
    # controls inflates the Theil-Sen floor past the fastest control's
    # whole runtime, normalizing sub-second queries to ~0.  The model
    # must clamp and re-fit through the origin.
    timings = {}
    for n, v in bench._CONTROL_REFERENCE.items():
        # fast controls hit a 2.5x window, the rest run true
        f = 2.5 if v < 0.5 else 1.0
        timings[n] = round(f * v, 4)
    model = bench.drift_model(timings)
    assert model is not None
    floor, slope = model
    fastest_now = min(
        timings[n]
        for n, v in bench._CONTROL_REFERENCE.items()
        if v == min(bench._CONTROL_REFERENCE.values())
    )
    assert floor <= 0.6 * fastest_now, (floor, fastest_now)
    # a 0.45 s query must stay the same order of magnitude
    assert bench.normalize_to_reference(0.45, model) > 0.2


def test_drift_model_floor_never_negative():
    # r7 mis-fit class: controls whose fast cluster ran hot yields a
    # negative Theil-Sen floor; the model must clamp to floor >= 0 and
    # re-fit the slope through the origin (VERDICT r7 what's-wrong #2)
    timings = {}
    for n, v in bench._CONTROL_REFERENCE.items():
        # fast controls 0.5x, slow controls 0.8x: induces negative floor
        f = 0.5 if v < 0.5 else 0.8
        timings[n] = round(f * v, 4)
    model = bench.drift_model(timings)
    assert model is not None
    floor, slope = model
    assert floor >= 0.0, floor
    assert slope > 0, slope
    # inverse map must never inflate a small query ABOVE its raw time
    # by the floor artifact: with floor=0 the map is purely x/slope
    norm = bench.normalize_to_reference(0.1, model)
    assert norm == round(0.1 / slope, 3), (norm, slope)


#: md5 (first 12 hex) of each bench control query's SOURCE at the time
#: its reference was (re-)pinned.  A control whose implementation
#: changes no longer measures the host — round 11's first full run was
#: mis-fit because two freshly-rewritten controls (bpe_train, pagerank)
#: ran 25-40% faster by design and dragged the Theil-Sen slope to 0.88
#: while the host was actually 1.27x-slow.  If this test fails you must
#: either swap the control out for an untouched query or re-baseline
#: its reference from a fresh measurement mapped through the OTHER
#: controls' fit — then update the hash.  (The hash covers comments
#: too; a comment-only edit still forces the conscious look, which is
#: cheap.)
CONTROL_SOURCE_HASHES = {
    "q1_pricing_summary": "86cc47de050f",
    "q6_forecast_revenue": "18fb78dbd8ff",
    "q18_large_orders": "1aed4caec92f",
    "events_type_hour_rollup": "7a1983ebb823",
    "q13_customer_distribution": "87038938e288",
    "events_user_stats": "9a53356690f0",
    "events_transition_matrix": "a4780a1f6055",
    "events_sliding_windows": "2dfc0e5c86a9",
    "trimmed_mean_price": "f85a76363295",
    "q8_market_share": "28dfa5d80339",
    "profile_id_gap_islands": "0b1d3044aa79",
    "sample_ipf_raking": "c1eb54bb7b5e",
    "profile_zorder_pruning_gain": "a400ba2a21aa",
    "stats_poisson_bootstrap_ci": "dcaac35cd4c5",
}


def test_control_queries_untouched_since_pin():
    import hashlib
    import inspect

    import __spark_entry__ as entry

    qs = entry.queries()
    assert set(CONTROL_SOURCE_HASHES) == set(bench._CONTROL_REFERENCE)
    stale = {}
    for name, pinned in CONTROL_SOURCE_HASHES.items():
        src = inspect.getsource(inspect.unwrap(qs[name]))
        now = hashlib.md5(src.encode()).hexdigest()[:12]
        if now != pinned:
            stale[name] = now
    assert not stale, (
        f"bench control source changed since its reference was pinned: "
        f"{stale} — swap the control out or re-baseline its reference "
        f"(see CONTROL_SOURCE_HASHES docstring)"
    )
