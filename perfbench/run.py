"""Benchmark entry point.

    python3 perfbench/run.py --workload tpch_x10 --seed 1 --seconds 8 --trace 0

Run from the repository root. Generates the inputs on first use (into
``perfbench/.work/data``, outside the timed region), runs one workload
(see ``perfbench/harness.py``) and prints a human-readable report
followed, as the last line of stdout, by one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics and writes
a chrome://tracing file and a per-query summary to
``perfbench/.work/traces``. ``--smoke`` runs everything on tiny inputs.

The seed draws the query order of every pass; the data is fixed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def host_env() -> int:
    """Pin the engine to the host before it is imported: one Spark core
    per CPU, a driver heap under a third of RAM (at most 4 GB), Python
    workers that can import the engine, and every scratch directory
    under ``perfbench/.work``. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1]) // 1024
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{min(4096, total_mb // 3)}m",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
    )
    return cores


def data_dir(workload, smoke: bool) -> str:
    from perfbench import datagen
    from perfbench.workloads import BASE_SF, SMOKE_SF, X10_COPIES, X10_SOURCE_SF

    root = os.path.join(WORK, "data")
    if not workload.x10:
        sf = SMOKE_SF if smoke else BASE_SF
        return datagen.generate(os.path.join(root, f"sf{sf}"), sf)
    sf = SMOKE_SF if smoke else X10_SOURCE_SF
    src = datagen.generate(os.path.join(root, f"sf{sf}"), sf)
    return datagen.replicate(src, os.path.join(root, f"sf{sf}x{X10_COPIES}"), X10_COPIES)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def report(name: str, seed: int, res, trace: bool) -> dict:
    failed_frac = res.failed / res.attempted
    e2e = {
        "setup_s": metric(res.setup_s, "s"),
        "suite_s": metric(res.suite_s, "s"),
        "query_p50_s": metric(res.query_p50_s, "s"),
    }
    print(f"workload {name} seed {seed}: {len(res.passes)} timed passes")
    print("  pass walls (s): " + " ".join(f"{p.wall_s:.3f}" for p in res.passes))
    print("  query medians (s): " + " ".join(f"{q}={t:.3f}" for q, t in sorted(res.query_medians.items())))
    for k, m in e2e.items():
        samples = f" ({len(res.latencies)} samples)" if k == "query_p50_s" else ""
        print(f"  {k:<14} {m['value']:>12.4f} {m['unit']}{samples}")
    print(f"  {'failed_frac':<14} {failed_frac:>12.4f} ratio ({res.failed}/{res.attempted})")
    print(f"  {'peak_rss_mb':<14} {res.peak_rss_mb:>12.4f} MB")
    print(f"  host CPU steal during the timed passes: {res.steal_frac:.1%}")
    if not trace:
        return e2e
    for k in sorted(res.layers):
        print(f"  {k:<30} {res.layers[k]:>16.4f} {LAYER_UNITS[k]}")
    for c in res.pass_checks:
        status = "ok" if c["ok"] else "INCOMPLETE"
        print(
            f"  pass {c['pass']}: wall {c['wall_s']:.3f} s, span coverage {c['coverage']:.3f} "
            f"({status}), storage after clear {c['storage_mb_after_clear']:.3f} MB"
        )
        for rdd, mb in c["stored_after_clear"].items():
            print(f"    still stored after clear: {rdd} ({mb:.3f} MB)")
    return {k: metric(v, LAYER_UNITS[k]) for k, v in res.layers.items()}


LAYER_UNITS = {
    "session.start_s": "s",
    "sources.load_table_s": "s",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "registry.construct_s": "s",
    "registry.construct_jobs": "count",
    "registry.clear_plan_cache_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.busy_frac": "ratio",
    "exec.idle_s": "s",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "shuffle.spill_bytes": "bytes",
    "python.run_s": "s",
    "python.start_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.log_commit_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "cache.rdds_built": "count",
    "cache.storage_mb_peak": "MB",
    "cache.storage_mb_after_clear": "MB",
    "self.pass_s": "s",
    "self.clear_s": "s",
    "self.probe_s": "s",
    "self.query_s": "s",
    "self.construct_s": "s",
    "self.plan_s": "s",
    "self.execute_s": "s",
    "trace.span_coverage": "ratio",
    "trace.suite_s": "s",
    "trace.overhead_s": "s",
    "host.steal_frac": "ratio",
}


def write_trace(name: str, seed: int, res, rec, jobs) -> str:
    from perfbench import spans

    out = os.path.join(WORK, "traces")
    os.makedirs(out, exist_ok=True)
    base = os.path.join(out, f"{name}-seed{seed}")
    with open(base + ".chrome.json", "w") as f:
        json.dump(spans.to_chrome(rec, jobs), f)
    with open(base + ".json", "w") as f:
        json.dump({"layers": res.layers, "passes": res.pass_checks, "queries": res.per_query}, f, indent=1)
    return base


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for self-tests")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "minispark_spark", "__init__.py")):
        print(f"perfbench: engine package minispark_spark not found under {ROOT}", file=sys.stderr)
        return 2
    cores = host_env()
    sys.path.insert(0, ROOT)
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    ddir = data_dir(wl, args.smoke)
    harness.prepare(WORK)
    try:
        if args.trace:
            res, rec, jobs = harness.traced(wl, ddir, WORK, args.seed, args.seconds, cores)
            print(f"trace written to {write_trace(wl.name, args.seed, res, rec, jobs)}.{{json,chrome.json}}")
        else:
            res, session = harness.untraced(wl, ddir, WORK, args.seed, args.seconds)
            harness.stop(session.spark)
    finally:
        harness.shutdown_jvm()
    metrics = report(wl.name, args.seed, res, bool(args.trace))
    incomplete = [c["pass"] for c in res.pass_checks if not c["ok"]]
    if incomplete:
        print(f"perfbench: span tree covers less than the pass wall time on {incomplete}", file=sys.stderr)
        return 1
    result = {"correct": res.failed == 0, "attempted": res.attempted, "failed": res.failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
