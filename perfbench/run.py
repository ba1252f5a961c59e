"""perfbench: the repository benchmark.

Runs one workload (a list of ``__spark_entry__.queries()`` names, see
``workloads.json``) as a closed loop with one client on
``local[<cores>]``:

1. start the session (``hail_spark.get_spark``), then ``WARM_PASSES``
   untimed warm passes over the sf0.01 inputs, each running the queries
   side by side, one per core;
2. timed passes, one query at a time, each timed from the call into its
   ``queries()`` function to the end of ``collect()``: ``--seconds`` divided
   by the workload's nominal pass time ``pass_s``, rounded, at least one;
3. with ``--trace 1``, one more pass, placed between the timed ones, with
   tracing on (spans around the query function, the outermost call into
   each engine subpackage and the action, plus Spark's UDF profiler);
4. after Spark has stopped, DuckDB evaluates each query's
   ``oracle_sql()`` once and every collected result is compared with it,
   canonicalised by ``scripts/verify_local.py``.

Per-query counters come from Spark's status store (one job group per
query, read right after the query returns) and its planning tracker, in
every mode. Human-readable lines go to stdout, and the last stdout line
is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the ``end_to_end``
metrics of BENCHMARK.json with ``--trace 0``, its ``per_layer`` metrics
with ``--trace 1``. Per-query records and spans are written to
``.perfbench_run/out/``.

Usage, from the repository root:

    python3 perfbench/run.py --workload interactive_sf0.01 --seed 1 --seconds 22 --trace 0
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_run")
DRIVER_MEM = "2g"
# Warm-up runs the same code paths as the timed passes, on the smallest
# inputs: most of a cold pass is class loading, JIT compilation and worker
# start, not data. A second warm pass shrinks the warm-up still left in the
# first timed pass.
WARM_PASSES = 2
WARM_SCALE = "sf0.01"
CORES = len(os.sched_getaffinity(0))
MB = 1024.0 * 1024.0
# the engine files the benchmark imports; without them it cannot run
REQUIRED = ("BENCHMARK.json", "__spark_entry__.py", "hail_spark/__init__.py", "scripts/verify_local.py")


def log(msg: str) -> None:
    print(f"# perfbench: {msg}", file=sys.stderr, flush=True)


def process_start_time() -> float:
    """Wall-clock time at which this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def parse_args(workloads: dict) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def prepare_environment(run_dir: str) -> dict[str, str]:
    """Point every scratch location of Spark, the JVM and Python at the
    run directory, and return the extra session configs."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    sys.path.insert(1, os.path.join(ROOT, "scripts"))
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # the whole heap committed and touched at start, so resident memory
        # does not depend on when the collector chose to grow the heap;
        # heap growth shows in driver.live_heap_mb instead
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


def redirect_staging(entry, tmp: str) -> None:
    """Queries that write and re-read files stage them through
    ``__spark_entry__._tmp_base``; keep those files in the run directory."""

    def staging_path(prefix: str, sf_dir: str) -> str:
        digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        return entry._reg_staging(os.path.join(tmp, f"{prefix}_{digest}_{os.getpid()}"))

    entry._tmp_base = staging_path


def warm_up(spark, queries, order, sf_dir, workers) -> None:
    """Untimed warm pass: run every query once, ``workers`` at a time, so
    JIT-compiled code, generated-code caches and Python workers are in place
    before timing. Running them side by side only shortens set-up."""

    def one(name: str) -> None:
        try:
            queries[name](spark, sf_dir).collect()
        except Exception as e:  # noqa: BLE001 - the timed passes count failures
            log(f"warm-up {name} failed: {type(e).__name__}: {str(e)[:200]}")

    with ThreadPoolExecutor(max_workers=workers) as pool:
        list(pool.map(one, order))


def run_pass(spark, store, tracer, queries, order, sf_dir, tag, profile=False) -> list[dict]:
    """One pass over ``order``; returns one record per query (rows included)."""
    from spark_stats import catalyst_phases, udf_profile_totals

    sc = spark.sparkContext
    held = store.cached_rdds()
    recs = []
    for i, name in enumerate(order):
        rec = {"name": name, "group": f"perfbench/{tag}/{i}/{name}", "ok": True, "error": None}
        sc.setJobGroup(rec["group"], name)
        tracer.query = rec["group"]
        udf_before = udf_profile_totals(spark) if profile else None
        t0 = time.perf_counter()
        try:
            with tracer.span(name, "entry"):
                df = queries[name](spark, sf_dir)
            t1 = time.perf_counter()
            rec["build_end_ms"] = time.time() * 1000.0
            with tracer.span("collect", "action"):
                rows = df.collect()
            t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, collect_s=t2 - t1, latency_s=t2 - t0,
                       cols=list(df.columns), rows=[tuple(r) for r in rows])
            rec["phases"] = catalyst_phases(df)
        except Exception as e:  # noqa: BLE001 - a failing query is counted, not fatal
            rec.update(ok=False, error=f"{type(e).__name__}: {str(e)[:300]}",
                       latency_s=time.perf_counter() - t0)
        finally:
            tracer.query = None
        store.drain()
        if rec["ok"]:
            rec["exec"] = store.group_counters(store.group_jobs(rec["group"]), rec["build_end_ms"])
        now = store.cached_rdds()
        rec["retained_rdds"] = sum(1 for k in now if k not in held)
        rec["retained_mb"] = sum(v for k, v in now.items() if k not in held) / MB
        held = now
        if profile:
            secs, calls = udf_profile_totals(spark)
            rec["udf_s"], rec["udf_calls"] = secs - udf_before[0], calls - udf_before[1]
        recs.append(rec)
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    return recs


def traced_at(passes: int) -> int:
    """Index of the timed pass the traced pass runs just before: the middle
    one, so that untraced passes run on both sides of it."""
    return passes // 2


def traced_pass(spark, store, tracer, queries, order, sf_dir) -> list[dict]:
    """One pass with spans and Spark's UDF profiler on; each record gets
    its self time by layer."""
    from tracing import self_times

    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    tracer.enabled = True
    try:
        recs = run_pass(spark, store, tracer, queries, order, sf_dir, "traced", profile=True)
    finally:
        tracer.enabled = False
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    for rec in recs:
        rec["self_s"] = {layer: v["self_s"] for layer, v in
                         self_times([s for s in tracer.spans if s["query"] == rec["group"]]).items()}
    log(f"traced pass: {sum(r['latency_s'] for r in recs):.1f} s")
    return recs


def live_heap_bytes(spark) -> int:
    """Heap the driver JVM still uses after a full collection: what the
    session retains (cached blocks, status records, caches), not garbage.
    Python's collector runs first, so JVM objects that only unreachable
    Python proxies still pointed at are released."""
    memory = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    gc.collect()
    memory.gc()
    return memory.getHeapMemoryUsage().getUsed()


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    from pyspark import SparkContext
    from rss import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    descendants = process_tree(os.getpid()) - {os.getpid()}
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def alive(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.time() + 30
    while any(alive(p) for p in descendants) and time.time() < deadline:
        time.sleep(0.1)
    for pid in filter(alive, descendants):
        os.kill(pid, signal.SIGKILL)


def oracle_rows(entry, verify_local, names, sf_dir) -> dict[str, tuple]:
    """{query: (sorted lower-case column names, canonical rows)} from DuckDB."""
    import duckdb

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    sql = entry.oracle_sql()
    out = {}
    with duckdb.connect() as con:
        con.execute(f"SET threads TO {CORES}")
        for t in verify_local.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in names:
            rel = con.sql(sql[name])
            cols = [c.lower() for c in rel.columns]
            out[name] = (sorted(cols), verify_local.rows_to_canonical(cols, rel.fetchall()))
    return out


def check(rec: dict, expected: dict, verify_local) -> None:
    """Mark ``rec`` failed if its rows differ from the oracle's; drop the rows."""
    rows, cols = rec.pop("rows", None), rec.pop("cols", None)
    if not rec["ok"]:
        return
    want_cols, want_rows = expected[rec["name"]]
    lower = [c.lower() for c in cols]
    if sorted(lower) != want_cols:
        rec.update(ok=False, error=f"columns {sorted(lower)} != oracle {want_cols}")
    elif verify_local.rows_to_canonical(lower, rows) != want_rows:
        rec.update(ok=False, error=f"rows differ from the oracle ({len(rows)} vs {len(want_rows)})")


def pass_layers(recs: list[dict]) -> dict[str, float]:
    """Per-layer sums over one untraced pass (ratios where named so)."""
    ok = [r for r in recs if "exec" in r]
    e = {k: sum(r["exec"][k] for r in ok) for k in (ok[0]["exec"] if ok else {})}
    phase = {p: sum((r["phases"][p][1] - r["phases"][p][0]) / 1e3 for r in ok if p in r["phases"])
             for p in ("analysis", "optimization", "planning")}
    # catalyst phases that ran inside collect() (analysis is eager, at build)
    in_action = sum((end - start) / 1e3 for r in ok for start, end in r["phases"].values()
                    if start >= r["build_end_ms"])
    wall = sum(r["latency_s"] for r in recs)
    out = {
        "api.build_s": sum(r["build_s"] for r in ok),
        "api.build_jobs": e.get("build_jobs", 0),
        "catalyst.analysis_s": phase["analysis"],
        "catalyst.optimization_s": phase["optimization"],
        "catalyst.planning_s": phase["planning"],
        "exec.action_s": sum(r["collect_s"] for r in ok) - in_action,
        "exec.useful_task_ratio": e["useful_tasks"] / e["tasks"] if e.get("tasks") else 0.0,
        "exec.core_util": e.get("task_run_s", 0.0) / (wall * CORES) if wall else 0.0,
        "blocks.retained_rdds": sum(r["retained_rdds"] for r in recs),
        "blocks.retained_mb": sum(r["retained_mb"] for r in recs),
    }
    for k in ("jobs", "stages", "tasks", "failed_tasks", "task_cpu_s", "gc_s", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb", "input_mb", "output_mb", "peak_exec_mem_mb"):
        out[f"exec.{k}"] = e.get(k, 0)
    return out


def main() -> int:
    proc_start = process_start_time()
    missing = [f for f in REQUIRED if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: run from a checkout of the repository; missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    args = parse_args(spec["workloads"])
    workload = spec["workloads"][args.workload]

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    spark_conf = prepare_environment(run_dir)

    from tracing import API_SUBPACKAGES, Tracer, install_api_wrappers, self_times

    tracer = Tracer()
    wrapped = install_api_wrappers(tracer) if args.trace else 0

    import __spark_entry__ as entry
    import verify_local
    from hail_spark import get_spark
    from rss import PeakRss
    from spark_stats import StatusStore

    redirect_staging(entry, os.path.join(run_dir, "tmp"))
    sf_dir = os.path.join(os.path.dirname(entry.SF_DEFAULT), workload["scale"])
    warm_dir = os.path.join(os.path.dirname(entry.SF_DEFAULT), WARM_SCALE)
    names = workload["queries"]
    queries = entry.queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"perfbench: not in queries(): {unknown}")
    rng = random.Random(args.seed)

    def shuffled():
        order = list(names)
        rng.shuffle(order)
        return order

    log(f"imports done at {time.time() - proc_start:.1f} s")
    spark = None
    try:
        tracer.enabled = bool(args.trace)
        t0 = time.perf_counter()
        with tracer.span("get_spark", "session"):
            spark = get_spark("perfbench", **spark_conf)
        session_start_s = time.perf_counter() - t0
        tracer.enabled = False
        store = StatusStore(spark)
        t0 = time.perf_counter()
        for _ in range(WARM_PASSES):
            warm_up(spark, queries, shuffled(), warm_dir, CORES)
        setup_s = time.time() - proc_start
        log(f"session start {session_start_s:.1f} s, warm passes {time.perf_counter() - t0:.1f} s")

        # a whole number of passes fixed by --seconds and the workload's
        # nominal pass time, not by how fast this run happens to go
        orders = [shuffled() for _ in range(max(1, round(args.seconds / workload["pass_s"])))]
        timed, traced = [], []
        with PeakRss() as rss:
            for i, order in enumerate(orders):
                if args.trace and i == traced_at(len(orders)):
                    traced = traced_pass(spark, store, tracer, queries, shuffled(), sf_dir)
                timed.append(run_pass(spark, store, tracer, queries, order, sf_dir, f"timed{i}"))
                log(f"timed pass {i + 1}: {sum(r['latency_s'] for r in timed[-1]):.1f} s, "
                    f"peak RSS so far {rss.peak_bytes / MB:.0f} MB")
        live_heap_mb = live_heap_bytes(spark) / MB
    finally:
        if spark is not None:
            t0 = time.perf_counter()
            stop_spark(spark)
            log(f"spark stopped in {time.perf_counter() - t0:.1f} s")

    t0 = time.perf_counter()
    expected = oracle_rows(entry, verify_local, names, sf_dir)
    log(f"oracles {time.perf_counter() - t0:.1f} s")
    for rec in (r for p in timed + [traced] for r in p):
        check(rec, expected, verify_local)

    attempted = [r for p in timed + [traced] for r in p]
    failed = [r for r in attempted if not r["ok"]]
    latencies = [r["latency_s"] for p in timed for r in p]
    walls = [sum(r["latency_s"] for r in p) for p in timed]
    e2e = {
        "wall_s": statistics.median(walls),
        "query_p50_s": statistics.median(latencies),
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_bytes / MB,
    }
    per_pass = [pass_layers(p) for p in timed]
    layers = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    layers["session.start_s"] = session_start_s
    layers["driver.live_heap_mb"] = live_heap_mb
    layers["failed_frac"] = len(failed) / len(attempted)
    if args.trace:
        by_layer = self_times(tracer.spans)
        for sub in API_SUBPACKAGES:
            layers[f"api.{sub}.self_s"] = by_layer.get(sub, {}).get("self_s", 0.0)
            layers[f"api.{sub}.calls"] = by_layer.get(sub, {}).get("calls", 0)
        layers["pyworker.udf_s"] = sum(r.get("udf_s", 0.0) for r in traced)
        layers["pyworker.udf_calls"] = sum(r.get("udf_calls", 0) for r in traced)
        # against the untraced passes just before and after the traced one,
        # so the warm-up that goes on from pass to pass cancels; the API
        # wrappers are installed (disabled) in those passes too, so their
        # disabled-path cost is not part of this figure
        k = traced_at(len(timed))
        layers["trace.overhead_s"] = (sum(r["latency_s"] for r in traced)
                                      - statistics.mean(walls[max(k - 1, 0):k + 1]))

    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    print(f"# workload {args.workload} seed {args.seed}: {len(timed)} timed pass(es) of {len(names)} "
          f"queries on local[{CORES}], {len(latencies)} latency samples"
          + (f"; traced pass with {wrapped} API callables wrapped" if args.trace else ""))
    if len(latencies) >= 100:  # at least 10 samples beyond the 90th percentile
        e2e_p90 = statistics.quantiles(latencies, n=10)[-1]
        print(f"query_p90_s = {e2e_p90:.6g} s")
    for name, value in list(e2e.items()) + sorted(layers.items()):
        print(f"{name} = {value:.6g} {units.get(name, '')}".rstrip())
    for rec in traced:
        split = ", ".join(f"{layer} {secs:.3f}" for layer, secs in sorted(rec["self_s"].items()))
        print(f"traced {rec['name']}: {rec['latency_s']:.3f} s; self time by layer (s): {split}; "
              f"udf {rec['udf_s']:.3f} s in {rec['udf_calls']} calls")
    for rec in failed:
        print(f"FAILED {rec['name']}: {rec['error']}")

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "cores": CORES,
        "metrics": {**e2e, **layers},
        "passes": {"timed": timed, "traced": traced},
        "peak_rss_mb_by_pid": {p: b / MB for p, b in rss.peak_by_pid.items()},
        "spans": tracer.spans,
    }
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    chosen = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = {**e2e, **layers}
    result = {
        "correct": not failed,
        "attempted": len(attempted),
        "failed": len(failed),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in chosen},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
