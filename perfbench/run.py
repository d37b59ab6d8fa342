#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload core_sf01 --seed 1 --seconds 22 --trace 0

Run from the repository root. Each run:

1. in a child process, generates the workload's input for the seed,
   unless it is already under ``.perfbench/data/``, and computes any
   missing DuckDB reference result;
2. sets up (``setup_s``): starts a ``local[nproc]`` session and imports
   the registry;
3. times a cold pass over the workload's queries in that fresh
   session, each a registry builder call ``fn(spark, data_dir)`` plus
   ``toArrow()``, which is what a one-shot batch user pays to get the
   results;
4. after one untimed warm-up pass, times a fixed number of warm
   passes, ``--seconds`` over the workload's nominal pass time (at
   least three), each query a builder call plus a noop-sink write;
5. checks every cold-pass output against its reference, untimed.

With ``--trace 1`` it then times the scans, the pure-Python kernels and
the per-function operators, restarts the session with Spark's event
log on, repeats the warm passes traced and derives the per-layer
metrics from the log. The last stdout line is the JSON result; a
per-query record goes to ``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench")
# At least three timed warm passes per run, so that a pass slowed by a
# burst of outside load (CPU steal) does not move the run's median.
MIN_PASSES = 3
# the first run on the pipeline inputs computes their dedup reference
PREPARE_TIMEOUT_S = 150

END_TO_END_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "query_p50_s": "s",
    "query_tail_s": "s", "ops_ok_frac": "frac", "peak_rss_mb": "MB", "verified": "flag",
}


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _drop_persisted(spark) -> None:
    """Unpersist the checkpoint blocks a query pinned, so passes do not
    accumulate heap (the same cleanup bench.py does between queries)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        jmap.get(rid).unpersist()
    spark.catalog.clearCache()


class Runner:
    def __init__(self, spark, queries: dict, data_dir: str):
        self.spark = spark
        self.queries = queries
        self.data_dir = data_dir
        self.failures: list[dict] = []
        self.attempted = 0

    def run(self, name: str, tag: str, collect: bool = False) -> dict | None:
        """Build and execute one query, timed; None when it raised. The
        execution is a noop-sink write, or with ``collect`` a
        ``toArrow()`` whose output is returned for checking."""
        sc = self.spark.sparkContext
        build_group, exec_group = f"{tag}:{name}:build", f"{tag}:{name}:exec"
        self.attempted += 1
        try:
            sc.setJobGroup(build_group, name)
            t0, p0 = time.time(), time.perf_counter()
            df = self.queries[name](self.spark, self.data_dir)
            p1 = time.perf_counter()
            sc.setJobGroup(exec_group, name)
            if collect:
                out = df.toArrow()
            else:
                out = None
                df.write.format("noop").mode("overwrite").save()
            p2, t1 = time.perf_counter(), time.time()
        except Exception as ex:  # a failing query is counted, not fatal
            self.failures.append({"query": name, "pass": tag, "error": f"{type(ex).__name__}: {ex}"[:500]})
            return None
        finally:
            sc.setJobGroup("perfbench:idle", "idle")
            _drop_persisted(self.spark)
        tracker = sc.statusTracker()
        return {
            "query": name, "build_s": p1 - p0, "exec_s": p2 - p1, "wall_s": p2 - p0,
            "t0": t0, "t1": t1, "build_group": build_group, "exec_group": exec_group,
            "build_jobs": len(tracker.getJobIdsForGroup(build_group)),
            "exec_jobs": len(tracker.getJobIdsForGroup(exec_group)),
            "output": out,
        }

    def warm_passes(self, names, n_passes: int, tag: str):
        """``n_passes`` passes over ``names``. A pass's wall time is the
        sum of its queries' timed walls, leaving out the cleanup between
        queries. Returns (walls, per-pass query records)."""
        walls, passes = [], []
        for i in range(n_passes):
            recs = [r for n in names if (r := self.run(n, f"{tag}{i}"))]
            walls.append(sum(r["wall_s"] for r in recs))
            passes.append(recs)
            self.spark.sparkContext._jvm.System.gc()
        return walls, passes


def _tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples above it. Below 21 samples that percentile would not lie
    above the median, so the maximum stands in for it."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def _verify(wl, outputs: dict, ref_dir: str) -> list[dict]:
    import pyarrow.parquet as pq

    from perfbench.verify import compare, reference_path
    from duckdb_behavioral_spark.registry import all_oracles

    oracles = all_oracles()
    bad = []
    for q in wl.queries:
        if q not in outputs:
            continue  # already counted as raised
        diff = compare(outputs[q], pq.read_table(reference_path(ref_dir, q, oracles[q])))
        if diff:
            bad.append({"query": q, "pass": "cold", "error": f"mismatch: {diff}"[:2000]})
    return bad


def _scan_probe(spark, data_dir: str, table_names) -> tuple[float, int]:
    """Scan-only noop materialisation of each input through the
    package's loaders (median of three), and the raw parquet splits."""
    from duckdb_behavioral_spark.sources import load_events, load_table

    times, splits = [], 0
    for name in table_names:
        splits += spark.read.parquet(os.path.join(data_dir, f"{name}.parquet")).rdd.getNumPartitions()
    for _ in range(3):
        t0 = time.perf_counter()
        for name in table_names:
            df = load_events(spark, data_dir) if name == "events" else load_table(spark, data_dir, name)
            df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), splits


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "duckdb_behavioral_spark", "registry.py")):
        return _fail("run from the repository root: duckdb_behavioral_spark/ not found")
    sys.path[:0] = [ROOT]
    from perfbench import session
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]

    session.configure_env(ROOT, WORK)
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    key = wl.input_key(args.seed)
    data_dir = os.path.join(WORK, "data", args.workload, key)
    ref_dir = os.path.join(WORK, "reference", args.workload, key)
    n_passes = max(MIN_PASSES, round(args.seconds / wl.pass_s))
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cores": cores, "warm_passes": n_passes}

    # ---- inputs and references, in a child process
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(HERE, "inputs.py"), args.workload, str(args.seed),
         data_dir, ref_dir, str(cores)],
        check=True, timeout=PREPARE_TIMEOUT_S,
    )
    record["prepare_s"] = time.perf_counter() - t0

    # ---- set-up: this process has not imported pyspark or the package
    # yet, so setup_s covers those imports, the session start and the
    # registry's import
    assert "pyspark" not in sys.modules
    t0 = time.perf_counter()
    spark, queries = session.set_up(WORK, cores)
    setup_s = time.perf_counter() - t0

    # ---- timed passes (untraced)
    from perfbench.trace import RssSampler, cpu_ticks, load_sentinel

    record["sentinel_pre_s"] = load_sentinel()
    steal0, total0 = cpu_ticks()
    runner = Runner(spark, queries, data_dir)
    with RssSampler() as rss:
        cold = [r for q in wl.queries if (r := runner.run(q, "cold", collect=True))]
        # the first pass after the cold one is still JIT-compiling and
        # varies most from run to run, so it runs untimed
        runner.warm_passes(wl.queries, 1, "warmup")
        warm_walls, warm = runner.warm_passes(wl.queries, n_passes, "warm")
    steal1, total1 = cpu_ticks()
    record["steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
    record["sentinel_post_s"] = load_sentinel()

    outputs = {r["query"]: r.pop("output") for r in cold}
    mismatches = _verify(wl, outputs, ref_dir)
    per_query = [r["wall_s"] for p in warm for r in p]
    tail, tail_pct, n = _tail(per_query)
    record.update(tail_percentile=tail_pct, tail_samples=n, cold=cold,
                  warm_pass_walls=warm_walls, warm=warm)
    failures = runner.failures + mismatches
    attempted = runner.attempted
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": sum(r["wall_s"] for r in cold),
        "warm_pass_s": statistics.median(warm_walls),
        "query_p50_s": statistics.median(per_query),
        "query_tail_s": tail,
        "ops_ok_frac": (attempted - len(failures)) / attempted,
        "peak_rss_mb": rss.peak_mb,
        "verified": 1.0 if len(outputs) == len(wl.queries) else 0.0,
    }
    record["end_to_end"] = e2e
    metrics = {k: (v, END_TO_END_UNITS[k]) for k, v in e2e.items()}
    shown = dict(metrics)

    if args.trace:
        metrics, traced = _traced(spark, wl, runner, queries, data_dir, args, cores, warm, record)
        shown.update(metrics)
        attempted = runner.attempted + traced.attempted
        failures = runner.failures + mismatches + traced.failures
    else:
        session.stop(spark)
    record["failures"] = failures

    path = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for k, (v, unit) in shown.items():
        print(f"{k:<45} {v:>14.6g} {unit}")
    for fl in failures:
        print(f"FAILED {fl['query']} ({fl['pass']}): {fl['error']}")
    print(f"load sentinel {record['sentinel_pre_s']:.4f}s / {record['sentinel_post_s']:.4f}s, "
          f"cpu steal {100 * record['steal_share']:.1f}% while timed; "
          f"tail = p{tail_pct:.1f} of {n} warm executions; record {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": not failures and e2e["verified"] == 1.0,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _traced(spark, wl, runner, queries, data_dir, args, cores, warm, record):
    """Per-layer metrics: operator, scan and kernel probes in the
    untraced session, then the warm passes again in a traced one."""
    from perfbench import kernels_probe, session
    from perfbench.trace import layer_metrics, read_event_log
    from perfbench.workloads import FUNCTION_QUERIES, SF01_EVENTS

    # operators: warm exec wall x cores per event for each function's
    # query; queries outside the workload run here, once after a warm-up
    exec_s = {}
    for p in warm:
        for r in p:
            exec_s.setdefault(r["query"], []).append(r["exec_s"])
    for q in FUNCTION_QUERIES:
        if q not in exec_s:
            runner.run(q, "opwarm")
            exec_s[q] = [r["exec_s"] for r in [runner.run(q, "op")] if r]
    ops = {q: statistics.median(exec_s[q]) * cores * 1e9 / SF01_EVENTS for q in FUNCTION_QUERIES}
    scan_s, splits = _scan_probe(spark, data_dir, wl.tables)
    # the traced session gets a fresh JVM too, so that its passes are as
    # warm as the untraced ones they are compared with
    session.stop(spark)

    log_dir = os.path.join(WORK, "eventlog", f"{os.getpid()}")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    spark = session.start(WORK, cores, event_log=log_dir)
    traced = Runner(spark, queries, data_dir)
    # the first pass of the new context starts its Python workers
    _, first = traced.warm_passes(wl.queries, 1, "tfirst")
    walls, passes = traced.warm_passes(wl.queries, MIN_PASSES, "traced")
    session.stop(spark)
    log = read_event_log(log_dir)
    layers, breakdown = layer_metrics(log, passes)
    first_layers, _ = layer_metrics(log, first)
    shutil.rmtree(log_dir, ignore_errors=True)

    kernels = kernels_probe.probe(os.path.join(data_dir, "events.parquet"))
    traced_warm = statistics.median(walls)
    m = {k: (v, _unit(k)) for k, v in layers.items()}
    m["operators.grouped.first_pass_boot_s"] = (
        first_layers["operators.grouped.python_boot_s"], "s")
    m["sources.scan_s"] = (scan_s, "s")
    m["sources.splits"] = (float(splits), "count")
    for q, v in ops.items():
        m[f"operators.{q}.ns_per_event"] = (v, "ns")
    for k, v in kernels.items():
        m[f"kernels.{k}.ns_per_event"] = (v, "ns")
    # the untraced base: the warm passes of the untraced session, which
    # also followed a first pass in a fresh JVM
    untraced_warm = record["end_to_end"]["warm_pass_s"]
    m["trace.warm_pass_s"] = (traced_warm, "s")
    m["trace.overhead_s"] = (traced_warm - untraced_warm, "s")
    record.update(traced_breakdown=breakdown, traced_walls=walls,
                  per_layer={k: v for k, (v, _) in m.items()})

    base = kernels_probe.BASELINE_NS
    print(f"tracing overhead: {traced_warm:.3f}s traced vs {untraced_warm:.3f}s untraced warm pass")
    for q, v in ops.items():
        ref = base[FUNCTION_QUERIES[q]]
        print(f"operators.{q}: {v:.1f} ns/event/core = {v / ref:.0f}x the reference's {ref} ns")
    for k, v in kernels.items():
        ref = base[kernels_probe.KERNEL_BASELINE[k]]
        print(f"kernels.{k}: {v:.1f} ns/event = {v / ref:.0f}x the reference's {ref} ns")
    return m, traced


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name == "exec.task_skew":
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
