"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload etl_hourly_catchup --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. Prints human-readable lines, then, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Exits non-zero when any correctness
check fails or when the program is not next to the benchmark. Everything
a run writes goes under ``.perfbench_runs/`` in the repository root; the
run's self-describing record (``result.json``) and, when traced, its spans
(``spans.jsonl``) are kept there.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_FILES = ("hauser_spark/service.py", "__spark_entry__.py", "tests/oracle.py")
WORKLOADS = ("etl_hourly_catchup", "query_mix")
CPUS = "4"

ETL_LAYERS = (
    "warehouse.sync_read_ms", "warehouse.load_ms", "warehouse.sync_append_ms",
    "warehouse.init_ms", "warehouse.export_files", "warehouse.bytes_per_record",
    "warehouse.repair_ms", "service.self_ms", "service.retries",
    "spark.jobs_per_bundle", "spark.stages_per_bundle", "spark.tasks_per_bundle",
    "export.create_ms", "export.get_ms", "transform.build_ms", "csv.write_ms",
    "csv.bytes_per_record", "storage.put_ms", "storage.delete_ms",
)
QUERY_LAYERS = tuple(
    f"query.{g}.{m}"
    for g in ("scan_join", "iterative", "reuse", "sweep")
    for m in ("build_ms", "plan_ms", "exec_ms", "build_jobs", "jobs", "stages", "tasks")
) + ("reuse.persisted_after",)


def _units(name: str) -> str:
    if name.endswith("_ms") or "_ms_per_" in name:
        return "ms"
    if name.endswith("_s") and not name.endswith("per_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("per_record"):
        return "B"
    if name.endswith("_per_s"):
        return "1/s"
    return "count"


def _process_start() -> float:
    """Wall-clock start of this process (10 ms resolution), from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _status_mb(pid: int | str, key: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no {key} for pid {pid}")


class Marks:
    """Callbacks a workload calls at the end of set-up and of timing."""

    def __init__(self, t_start: float, sc):
        self.t_start = t_start
        self.sc = sc
        self.jvm_pid = sc._gateway.proc.pid

    def setup_done(self) -> float:
        """Seconds from process start to now, the first timed operation."""
        self.cpu0, self.host0 = _tree_cpu_s(), _host_ticks()
        return time.time() - self.t_start

    def timed_done(self) -> None:
        """Memory of the program, read before the checks run (the DuckDB
        oracle runs in this process): each process's peak resident set,
        and what the program still holds after a full collection (JVM heap
        in use plus the driver's resident set)."""
        self.cpu_s = _tree_cpu_s() - self.cpu0
        host = [b - a for a, b in zip(self.host0, _host_ticks())]
        self.host_steal_pct = 100 * host[7] / max(sum(host), 1)
        self.driver_mb = _status_mb("self", "VmHWM")
        self.jvm_mb = _status_mb(self.jvm_pid, "VmHWM")
        gc.collect()
        jvm = self.sc._jvm
        jvm.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        heap_mb = (rt.totalMemory() - rt.freeMemory()) / 2**20
        self.retained_mb = heap_mb + _status_mb("self", "VmRSS")


def _tree_cpu_s() -> float:
    """CPU seconds of this process and all its descendants (the JVM and
    its Python workers), including reaped children."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited meanwhile
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # u, s, cu, cs time
    me = os.getpid()
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        if p == me:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


def _host_ticks() -> list[int]:
    """The machine's CPU time by state, from /proc/stat (steal is [7])."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _source_digest() -> str:
    h = hashlib.sha256()
    paths = ["__spark_entry__.py"]
    for d, _dirs, files in os.walk(os.path.join(ROOT, "hauser_spark")):
        paths += [os.path.relpath(os.path.join(d, f), ROOT) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(p.encode())
        with open(os.path.join(ROOT, p), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _isolate_env(run_dir: str) -> dict[str, str]:
    """Point every scratch location of Spark, Python and the engine at the
    run's own directory, before the JVM starts."""
    dirs = {k: os.path.join(run_dir, k) for k in ("local", "tmp", "layout", "work")}
    for d in dirs.values():
        os.makedirs(d)
    env = {
        # Python UDF workers import hauser_spark, so they need the root too
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_LAYOUT_CACHE": dirs["layout"],
        "TMPDIR": dirs["tmp"],
        "TZ": "UTC",
    }
    os.environ.update(env)
    time.tzset()
    return dirs


def _stop(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _pct(values: list[float], q: float) -> float:
    """Percentile by linear interpolation between order statistics."""
    xs = sorted(values)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def main(argv=None) -> int:
    t_start = _process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"program not found next to the benchmark: {missing}", file=sys.stderr)
        return 2

    run_dir = os.path.join(
        ROOT, ".perfbench_runs",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}",
    )
    dirs = _isolate_env(run_dir)
    sys.path[:0] = [ROOT, HERE]
    try:
        return _run(args, t_start, run_dir, dirs)
    finally:
        for d in dirs.values():
            shutil.rmtree(d, ignore_errors=True)


def _run(args, t_start: float, run_dir: str, dirs: dict[str, str]) -> int:
    from hauser_spark.session import build_session

    spark = build_session(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(dirs["work"], "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    marks = Marks(t_start, spark.sparkContext)

    try:
        if args.workload == "etl_hourly_catchup":
            import etl as workload
        else:
            import querymix as workload
        out, layers, tracer = workload.run(
            spark, dirs["work"], args.seed, args.seconds, bool(args.trace), marks
        )
        driver_mb, jvm_mb = marks.driver_mb, marks.jvm_mb
        meta = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "git_sha": _git_sha(),
            "source_sha256": _source_digest(),
            "spark": spark.version,
            "python": platform.python_version(),
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "host_steal_pct": marks.host_steal_pct,
            "driver_hwm_mb": driver_mb,
            "jvm_hwm_mb": jvm_mb,
        }
    finally:
        _stop(spark)

    lat = out["latencies_s"]
    end_to_end = {
        "setup_s": out["setup_s"],
        "op_p50_ms": statistics.median(lat) * 1000 if lat else 0.0,
        "ops_per_s": out["ops"] / out["wall_s"],
        "cpu_ms_per_op": marks.cpu_s * 1000 / max(out["attempted"], 1),
        "retained_mb": marks.retained_mb,
    }
    problems = list(out["problems"])
    child_share = layers.pop("trace.child_share", None)
    if child_share is not None:
        out["extra"]["child_span_share"] = child_share
    if not lat:
        problems.append("no operation completed")
    failed = out["failed"] or (1 if problems else 0)
    correct = failed == 0

    op = "bundle" if args.workload == "etl_hourly_catchup" else "query"
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"nproc {meta['nproc']} cpus {CPUS} host_steal_pct {meta['host_steal_pct']:.1f}")
    for q in (0.5, 0.75):
        if lat:
            print(f"{op}_p{int(q * 100)}_ms {_pct(lat, q) * 1000:.1f} ms (n={len(lat)})")
    for k, v in out["extra"].items():
        print(f"{k} {v}")
    print(f"failed_ratio {failed}/{out['attempted']}")
    for p in problems:
        print(f"FAILED: {p}")

    if args.trace:
        metrics = {
            name: layers.get(name, 0.0) for name in ETL_LAYERS + QUERY_LAYERS
        }
        metrics.update({
            "driver.rss_mb": driver_mb,
            "jvm.rss_mb": jvm_mb,
            "peak_rss_mb": driver_mb + jvm_mb,
            "traced.op_p50_ms": end_to_end["op_p50_ms"],
            "traced.ops_per_s": end_to_end["ops_per_s"],
        })
        tracer.dump(os.path.join(run_dir, "spans.jsonl"))
    else:
        metrics = end_to_end
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {_units(k)}")

    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(
            {
                "meta": meta,
                "end_to_end": end_to_end,
                "per_layer": metrics if args.trace else {},
                "latencies_s": lat,
                "extra": out["extra"],
                "problems": problems,
            },
            f,
            indent=1,
            default=str,
        )
    print(json.dumps({
        "correct": correct,
        "attempted": out["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _units(k)} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
