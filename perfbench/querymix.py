"""The ``query_mix`` workload: catalog queries through
``__spark_entry__.queries()`` over generated tables, one client, closed
loop, read-only. The ETL layers stay idle.

Groups, each named for the cost it stresses:

- ``scan_join``: executor-bound scans, joins and windows;
- ``iterative``: driver loops whose rounds fire jobs while the plan is
  built, so build time and build-time jobs (driver rounds) dominate;
- ``reuse``: queries with cache / localCheckpoint reuse sites;
- ``sweep``: parameter sweeps that run one leg per parameter value.
"""

from __future__ import annotations

import functools
import gc
import os
import statistics
import time

import gen
from spans import Tracer

GROUPS = {
    "scan_join": ("q5_region_revenue",),
    "iterative": ("sim_kmeanspp_init",),
    "reuse": ("basket_pair_cooccurrence",),
    "sweep": ("decontam_ngram_size_sweep",),
}
QUERIES = [q for qs in GROUPS.values() for q in qs]
GROUP_OF = {q: g for g, qs in GROUPS.items() for q in qs}
SCALE = 0.01  # 60K lineitem rows
# The timed part is a fixed number of passes, so both sides of a comparison
# do the same work; a pass takes 7.5 to 9 s on a 4-core host.
SECONDS_PER_PASS = 7.5


class _Collected:
    """The already-collected result of one execution, shaped like the
    DataFrame that ``tests.oracle.compare`` reads, so the check does not
    run the query again."""

    def __init__(self, df, rows):
        self.columns = df.columns
        self.dtypes = df.dtypes
        self._rows = rows

    def collect(self):
        return self._rows


def _release(spark) -> None:
    """Untimed, between passes: release the dead checkpoint blocks of the
    pass (they are freed only after a Python and a JVM collection)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run(spark, base: str, seed: int, seconds: float, trace: bool, marks):
    import __spark_entry__ as entry
    from hauser_spark.tables import optimize_layout
    from tests import oracle

    data = os.path.join(base, "tables")
    sizes = gen.write_tables(data, seed, SCALE)
    optimize_layout(data)
    qs, oracles = entry.queries(), entry.oracle_sql()
    for name in QUERIES:  # one untimed pass
        spark.catalog.clearCache()
        qs[name](spark, data).collect()
    tracer = Tracer(spark.sparkContext) if trace else None
    setup_s = marks.setup_done()

    execs: list[dict] = []
    n_passes = max(2, round(seconds / SECONDS_PER_PASS))
    for pass_no in range(n_passes):
        _release(spark)
        for name in QUERIES:
            spark.catalog.clearCache()  # untimed: no query reads another's cache
            rec = {"query": name, "group": GROUP_OF[name], "pass": pass_no}
            try:
                if tracer is None:
                    t0 = time.perf_counter()
                    df = qs[name](spark, data)
                    rows = df.collect()
                    rec["wall_s"] = time.perf_counter() - t0
                else:
                    df, rows = _traced_execution(spark, tracer, qs[name], data, rec)
                rec["result"] = _Collected(df, rows)
            except Exception as e:  # a failing query is counted, not fatal
                rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            execs.append(rec)
    marks.timed_done()

    # each oracle runs once in DuckDB; every execution is compared with it
    oracle.duckdb_run_typed = functools.cache(oracle.duckdb_run_typed)
    problems = []
    failed = 0
    for rec in execs:
        if "error" in rec:
            problems.append(f"{rec['query']} pass {rec['pass']}: {rec['error']}")
            failed += 1
            continue
        diff = oracle.compare(rec.pop("result"), data, oracles[rec["query"]])
        if diff:
            problems.append(f"{rec['query']} pass {rec['pass']}: {diff}")
            failed += 1
    ok = [r for r in execs if "wall_s" in r]
    # a pass of the mix, as the sum of each query's median over the passes
    mix_s = sum(
        statistics.median(r["wall_s"] for r in ok if r["query"] == q)
        for q in {r["query"] for r in ok}
    )
    out = {
        "setup_s": setup_s,
        "latencies_s": [r["wall_s"] for r in ok],
        "ops": len(QUERIES),
        "wall_s": mix_s,
        "attempted": len(execs),
        "failed": failed,
        "problems": problems,
        "extra": {
            "passes": n_passes,
            "mix_s": mix_s,
            "table_rows": sizes,
            "groups": {g: list(q) for g, q in GROUPS.items()},
        },
    }
    layers = _layer_metrics(execs) if tracer is not None else {}
    return out, layers, tracer


def _traced_execution(spark, tr: Tracer, fn, data, rec):
    """build (the Python call that constructs the plan, including any
    driver rounds), plan (analysis + optimization), exec (collect), each
    under its own job group; the groups are counted after the query."""
    tr.trace_id = f"{rec['query']}-{rec['pass']}"
    with tr.span("query") as q:
        for phase in ("build", "plan", "exec"):
            tr.set_job_group(f"{tr.trace_id}-{phase}")
            with tr.span(f"query.{phase}") as s:
                if phase == "build":
                    df = fn(spark, data)
                elif phase == "plan":
                    df._jdf.queryExecution().executedPlan()
                else:
                    rows = df.collect()
            tr.clear_job_group()
            rec[f"{phase}_s"] = s["end"] - s["start"]
    rec["wall_s"] = q["end"] - q["start"]
    counts = {p: tr.job_counts(f"{tr.trace_id}-{p}") for p in ("build", "plan", "exec")}
    rec["build_jobs"] = counts["build"][0]
    for i, key in enumerate(("jobs", "stages", "tasks")):
        rec[key] = sum(c[i] for c in counts.values())
    rec["persisted_after"] = spark.sparkContext._jsc.getPersistentRDDs().size()
    return df, rows


def _layer_metrics(execs) -> dict:
    """Per-group means over the timed executions, plus the share of the
    query wall time that the three phase spans cover."""
    out = {}
    phases = walls = 0.0
    for g in GROUPS:
        recs = [r for r in execs if r["group"] == g and "wall_s" in r]
        n = max(len(recs), 1)
        for key, scale in (
            ("build_s", 1000), ("plan_s", 1000), ("exec_s", 1000),
            ("build_jobs", 1), ("jobs", 1), ("stages", 1), ("tasks", 1),
        ):
            name = key[:-2] + "_ms" if key.endswith("_s") else key
            out[f"query.{g}.{name}"] = sum(r[key] for r in recs) * scale / n
        phases += sum(r["build_s"] + r["plan_s"] + r["exec_s"] for r in recs)
        walls += sum(r["wall_s"] for r in recs)
    timed = [r for r in execs if "persisted_after" in r]
    out["reuse.persisted_after"] = sum(r["persisted_after"] for r in timed) / max(len(timed), 1)
    out["trace.child_share"] = phases / walls if walls else 0.0
    return out
