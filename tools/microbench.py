"""Time a subset of registry queries with the bench methodology.

Usage: python tools/microbench.py <name> [<name> ...]

Same methodology as bench.py (ingested layout, warm session, noop sink,
min across 3 interleaved passes with cache/plan-memo clears between
passes) so numbers are comparable to bench_full.json rows, without
paying for the whole 234-query suite while iterating on one operator.
"""

from __future__ import annotations

import json
import os
import sys
import time

from minispark_spark.registry import REGISTRY, _ensure_loaded, clear_plan_cache
from minispark_spark.session import get_spark


def main() -> None:
    names = sys.argv[1:]
    passes = int(os.environ.get("MICROBENCH_PASSES", "3"))
    _ensure_loaded()
    spark = get_spark("microbench", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bench import ingest

    sf_dir = ingest(spark, sf_dir)
    # Warm-up (JVM JIT, parquet footers) — mirrors bench.py.
    for _ in range(2):
        REGISTRY["q1_pricing_summary"].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    timings = {n: float("inf") for n in names}
    for _ in range(passes):
        clear_plan_cache()
        for name in names:
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            timings[name] = min(timings[name], time.perf_counter() - t0)
    print(json.dumps({k: round(v, 4) for k, v in timings.items()}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
