"""Driver-side step breakdown for latency-dominated queries.

Usage: python tools/profile_steps.py <target>

Targets wrap a single registry query's internal phases with
perf_counter timers (bench layout, warm session) so the wall clock can
be attributed to training jobs / collects / final action instead of
guessing from stage counts. Measurement aid only — never imported by
the engine or the tests.
"""

from __future__ import annotations

import os
import sys
import time

from minispark_spark.registry import REGISTRY, _ensure_loaded, clear_plan_cache
from minispark_spark.session import get_spark

MARKS: list[tuple[str, float]] = []


def mark(label: str) -> None:
    MARKS.append((label, time.perf_counter()))


def report() -> None:
    for (a, t0), (b, t1) in zip(MARKS, MARKS[1:]):
        print(f"  {t1 - t0:7.3f}s  {a} -> {b}")
    print(f"  {MARKS[-1][1] - MARKS[0][1]:7.3f}s  TOTAL")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def prof_ivfpq_recall_k256(spark, sf_dir: str) -> None:
    import numpy as np
    from pyspark.sql import functions as F

    from minispark_spark.operators import ivfpq as iv
    from minispark_spark.operators.kmeans import DIM, kmeans_fit
    from minispark_spark.operators.pq import _exact_l2_topk, pq_train

    mark("start")
    q, cents = kmeans_fit(spark, sf_dir, iv.IVFPQ_LISTS, iv.IVFPQ_ITERS)
    mark("kmeans_fit")
    rq = iv._residual_frame(q, cents)
    mark("residual_frame(plan)")
    _, books = pq_train(
        spark, sf_dir, qframe=rq.select("vec_id", "q"), tag="prof-res-k256", k=256
    )
    mark("pq_train k256")
    queries = q.filter(F.col("vec_id") < 10).collect()
    mark("queries collect")
    qids = np.array([r["vec_id"] for r in queries], dtype=np.int64)
    qfull = np.array([r["q"] for r in queries], dtype=np.int64).reshape(-1, DIM)
    cdist = ((qfull[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    probes = [
        [int(c) for c in np.lexsort((np.arange(cents.shape[0]), cdist[i]))[:4]]
        for i in range(len(qids))
    ]
    mark("driver numpy")
    noop(_exact_l2_topk(q, qids, qfull))
    mark("exact topk noop")
    noop(iv._ivfpq_adc_rerank(q, cents, books, qids, qfull, probes, 50))
    mark("adc rerank noop")
    report()


def prof_semantic_dedup(spark, sf_dir: str) -> None:
    from pyspark.sql import functions as F

    from minispark_spark.operators.kmeans import kmeans_fit, _assignments
    from minispark_spark.operators import semdedup as sd

    mark("start")
    q, cents = kmeans_fit(spark, sf_dir, sd.K, sd.N_ITERS)
    mark("kmeans_fit")
    assign = _assignments(q, cents)
    budget = assign.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    mark("budget collect")
    noop(REGISTRY["semantic_dedup"].fn(spark, sf_dir))
    mark("full query noop")
    report()


def prof_query_passes(spark, sf_dir: str, name: str) -> None:
    """Three bench passes of one query with per-pass wall time."""
    for i in range(3):
        clear_plan_cache()
        t0 = time.perf_counter()
        noop(REGISTRY[name].fn(spark, sf_dir))
        print(f"  pass {i}: {time.perf_counter() - t0:.3f}s")


def main() -> None:
    target = sys.argv[1]
    _ensure_loaded()
    spark = get_spark("profile", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bench import ingest

    sf_dir = ingest(spark, sf_dir)
    for _ in range(2):
        noop(REGISTRY["q1_pricing_summary"].fn(spark, sf_dir))
    if target == "ivfpq":
        prof_ivfpq_recall_k256(spark, sf_dir)
    elif target == "semdedup":
        prof_semantic_dedup(spark, sf_dir)
    else:
        prof_query_passes(spark, sf_dir, target)
    spark.stop()


if __name__ == "__main__":
    main()
