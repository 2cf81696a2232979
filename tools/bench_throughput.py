"""Throughput bench: S concurrent query streams, TPC-H style.

The power run (bench.py) measures one-query-at-a-time latency; real
clusters run many queries concurrently, where total THROUGHPUT is what
matters (TPC-H's own throughput test: S streams, each running the full
query set in a rotated order). This drives the same engine through S
threads sharing one SparkSession — each thread submits jobs into its
own FAIR-scheduler pool, so streams share the 32 cores the way
multi-tenant Spark deployments do — and reports wall time, aggregate
query throughput, and the concurrency speedup vs the same work run
serially.

    python tools/bench_throughput.py [n_streams] [sf_dir]

Prints one JSON line:
  {"streams": S, "queries_total": N, "wall_s": W,
   "queries_per_sec": N/W, "serial_s": T1, "speedup": T1/W}
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from minispark_spark.registry import REGISTRY, _ensure_loaded, clear_plan_cache
from minispark_spark.session import get_spark

MIX = [f"q{i}_" for i in range(1, 23)]  # the 22 TPC-H queries


def _mix_names() -> list[str]:
    names = []
    for prefix in MIX:
        names.extend(n for n in REGISTRY if n.startswith(prefix))
    return names


def run_stream(spark, sf_dir: str, names: list[str], stream_id: int) -> None:
    sc = spark.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", f"stream-{stream_id}")
    # TPC-H rotation: stream s starts at query s and wraps.
    order = names[stream_id % len(names):] + names[: stream_id % len(names)]
    for name in order:
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    sc.setLocalProperty("spark.scheduler.pool", None)


def main() -> None:
    n_streams = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    _ensure_loaded()
    spark = get_spark(
        "bench-throughput",
        extra_conf={"spark.ui.enabled": "false", "spark.scheduler.mode": "FAIR"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    if sf_dir.startswith("/root/testdata/"):
        from bench import ingest

        sf_dir = ingest(spark, sf_dir)
    names = _mix_names()

    # Warm-up + serial reference: one full pass, single stream.
    run_stream(spark, sf_dir, names, 0)
    clear_plan_cache()
    t0 = time.perf_counter()
    run_stream(spark, sf_dir, names, 0)
    serial_s = time.perf_counter() - t0

    clear_plan_cache()
    threads = [
        threading.Thread(target=run_stream, args=(spark, sf_dir, names, s))
        for s in range(n_streams)
    ]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t0

    total_q = n_streams * len(names)
    print(
        json.dumps(
            {
                "streams": n_streams,
                "queries_total": total_q,
                "wall_s": round(wall, 2),
                "queries_per_sec": round(total_q / wall, 2),
                "serial_s": round(serial_s, 2),
                "speedup": round(n_streams * serial_s / wall, 2),
                "sf_dir": sf_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
