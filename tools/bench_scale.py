"""Scale-proof bench: time registry queries at an arbitrary SF dir.

Used for the two BASELINE.md proof points the round-1 judge asked for:
  1. q1 at sf=1 measured against the reference's published 0.707 s
     (same scale factor, not extrapolation):
         python tools/gen_sf1.py 1 .local/sf1
         python tools/bench_scale.py .local/sf1 q1_pricing_summary
  2. near-linear dedup scaling:
         python tools/bench_scale.py /root/testdata/sf0.01 dedup_minhash_lsh
         python tools/bench_scale.py /root/testdata/sf0.1  dedup_minhash_lsh

Methodology matches bench.py: untimed ingest is unnecessary here (the
generator already writes multi-file parquet; testdata dirs go through
bench.py's cached ingest), two warm-up runs (JIT + codegen + parquet
footers), then best-of-5 timed runs into a noop sink, caches cleared
between runs.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from minispark_spark.registry import REGISTRY, _ensure_loaded, clear_plan_cache
from minispark_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:] or ["q1_pricing_summary"]
    runs = int(os.environ.get("BENCH_RUNS", "5"))
    _ensure_loaded()
    spark = get_spark("bench-scale", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    if sf_dir.startswith("/root/testdata/"):
        from bench import ingest

        sf_dir = ingest(spark, sf_dir)

    out: dict[str, dict] = {}
    for name in names:
        fn = REGISTRY[name].fn
        for _ in range(2):  # warm-up
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times = []
        for _ in range(runs):
            clear_plan_cache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        out[name] = {
            "best": round(min(times), 4),
            "median": round(sorted(times)[len(times) // 2], 4),
            "runs": [round(t, 4) for t in times],
        }
    print(json.dumps({"sf_dir": sf_dir, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
