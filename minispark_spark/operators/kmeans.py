"""Deterministic distributed k-means over the embeddings table.

Lloyd's algorithm is usually non-deterministic across engines (float
summation order changes the last bits of every mean, which can flip
boundary assignments). This implementation is engineered to be
bit-exact cross-engine — the same trick the money aggregates and the
OLS fit use (SURVEY registry contract): do ALL accumulation in
integers.

* Vectors are quantized once: q_d = floor(x_d * 1e6 + 0.5) (round-
  half-up, identical in Spark and DuckDB). Squared L2 distances over
  int64 stay exact (|q| <= ~5e5, so 64-dim squared distances fit in
  2^53 << int64).
* Assignment = argmin over the k centroid distances, ties to the
  lowest cluster id (numpy ``argmin`` first-index == SQL ``ROW_NUMBER
  ... ORDER BY dist, cl`` == first-min ``list_position``).
* Centroid update: c_jd = floor(sum_jd / n_j) — integer floor division
  of exact integer sums, so every engine computes the identical next
  centroid. An empty cluster keeps its previous centroid.
* Init: the first k vectors by vec_id (same deterministic convention
  as the IVF coarse centroids in similarity.py).

Scale shape: one narrow Arrow-batched pass per iteration emits
PARTIAL per-cluster/per-dimension integer sums (map-side combine in
Python, k*dim rows per batch); one small groupBy reduces them and the
driver collects k*dim longs — bounded like the ranking histogram
collect, independent of corpus size. The vector table itself is
cached quantized and never reshuffled; assignment ships only (vec_id,
cluster). 100 TB of vectors = same plan, bigger scans.

The distance kernel is numpy (512 fused multiply-adds per row —
far beyond the ~30-50-lambda-eval break-even where interpreted
HOF expressions lose, NOTES.md); correctness is pinned by the DuckDB
oracle replaying every iteration in SQL CTEs.

No reference analogue (the reference has no ML/clustering surface);
extends the similarity family (IVF can consume these centroids).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from minispark_spark.registry import query, shared
from minispark_spark.sources.tables import fan_out, load_table

K = 8
N_ITERS = 3
DIM = 64  # testdata embeddings are 64-d; asserted at runtime
QSCALE = 1_000_000

_PARTIAL_SCHEMA = StructType(
    [
        StructField("cluster", IntegerType()),
        StructField("d", IntegerType()),
        StructField("s", LongType()),
        StructField("n", LongType()),
    ]
)

_ASSIGN_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("cluster", IntegerType()),
    ]
)


def _quantized(
    spark: SparkSession, sf_dir: str, emb: DataFrame | None = None
) -> DataFrame:
    if emb is None:
        emb = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * QSCALE + F.lit(0.5)).cast("long")
    )
    return emb.select("vec_id", q.alias("q"))


def _batch_matrix(pdf: pd.DataFrame) -> np.ndarray:
    m = np.array(list(pdf["q"]), dtype=np.int64)
    assert m.shape[1] == DIM, f"expected {DIM}-d embeddings, got {m.shape[1]}"
    return m


def _assign_np(m: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """First-index argmin of exact integer squared distances.

    Expanded form ||x||^2 - 2 x.c + ||c||^2: identical int64 integers
    to the naive (x - c)^2 sum (all-integer arithmetic, |q| <= ~5e5 so
    nothing approaches 2^63), but the intermediate is (n, k) instead of
    (n, k, DIM) — k*DIM-fold less memory traffic per batch (guide §4.2;
    bit-exactness pinned in tests/test_ann_kernels.py)."""
    m2 = (m * m).sum(axis=1)  # (n,)
    c2 = (cents * cents).sum(axis=1)  # (k,)
    d2 = m2[:, None] - 2 * (m @ cents.T) + c2[None, :]
    return d2.argmin(axis=1)


def _partial_sums(q: DataFrame, cents: np.ndarray) -> DataFrame:
    """One pass: assign each vector, emit PARTIAL (cluster, dim, sum,
    count) rows per Arrow batch — map-side combine in Python."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        k = cents.shape[0]
        for pdf in it:
            if not len(pdf):
                continue
            m = _batch_matrix(pdf)
            a = _assign_np(m, cents)
            # Vectorized accumulation (guide §4.2): int64 addition is
            # exact and order-free, so scatter-add == the per-cluster
            # boolean-mask sums it replaced (test_ann_kernels.py).
            sums = np.zeros((k, DIM), dtype=np.int64)
            counts = np.zeros(k, dtype=np.int64)
            np.add.at(sums, a, m)
            np.add.at(counts, a, 1)
            nz = np.nonzero(counts)[0]
            yield pd.DataFrame(
                {
                    "cluster": np.repeat(nz, DIM).astype(np.int32),
                    "d": np.tile(np.arange(DIM, dtype=np.int32), nz.size),
                    "s": sums[nz].reshape(-1),
                    "n": np.repeat(counts[nz], DIM),
                }
            )

    return q.mapInPandas(batches, schema=_PARTIAL_SCHEMA)


def _assignments(q: DataFrame, cents: np.ndarray) -> DataFrame:
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            a = _assign_np(_batch_matrix(pdf), cents)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "cluster": a.astype(np.int32)}
            )

    return q.mapInPandas(batches, schema=_ASSIGN_SCHEMA)


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The table-backed quantized corpus, cached and shared per
    (session, sf_dir): it is k-independent, so every table-backed fit
    (the k-curve's three included) reads one copy.

    NOT fanned out (tried and reverted this round): unlike the PQ/ADC
    and codec scans, a k=8 Lloyd pass is light per row, and at gate
    SFs the corpus is ~2k rows — 32-wide partitions put ~60 rows per
    task, so every per-round barrier (init + n_iters + assignment)
    pays 32-task scheduling + straggler exposure for microseconds of
    numpy. Interleaved A/B microbench measured the fan-out version
    slower AND far noisier (kmeans_clusters 1.4-1.8 s stable without
    vs 2.3-6.3 s with, under ambient host load). On a real corpus the
    scan is already wide and fan_out would be a no-op anyway."""
    return shared(spark, ("kmeans_corpus", sf_dir), lambda: _quantized(spark, sf_dir).cache())


def _fit_key(sf_dir: str, k: int, n_iters: int) -> tuple:
    return ("kmeans_fit", sf_dir, k, n_iters)


def kmeans_fit(
    spark: SparkSession,
    sf_dir: str,
    k: int = K,
    n_iters: int = N_ITERS,
    emb: DataFrame | None = None,
) -> tuple[DataFrame, np.ndarray]:
    """(cached quantized vectors, trained integer centroids).
    ``emb`` overrides the default embeddings table — any
    (vec_id, embedding array<float>) frame trains the same way.
    Table-backed fits are shared per (session, sf_dir, k, n_iters):
    semantic_dedup, ann_ivfpq_* and kmeans_clusters share trainings
    instead of re-running the sequential Lloyd jobs."""
    if emb is None:
        return shared(
            spark, _fit_key(sf_dir, k, n_iters), lambda: _lloyd(_corpus(spark, sf_dir), k, n_iters)
        )
    return _lloyd(_quantized(spark, sf_dir, emb).cache(), k, n_iters)


def _lloyd(q: DataFrame, k: int, n_iters: int) -> tuple[DataFrame, np.ndarray]:
    """``n_iters`` integer Lloyd rounds over ``q`` from the first-k init."""
    init = (
        q.orderBy("vec_id").limit(k).collect()
    )  # first-k init: k rows to the driver, bounded
    # A corpus smaller than k trains with as many centroids as it has
    # vectors (incl. zero) — matching the oracle's LIMIT k exactly.
    cents = np.array([r["q"] for r in init], dtype=np.int64).reshape(len(init), DIM)
    for _ in range(n_iters):
        stats = (
            _partial_sums(q, cents)
            .groupBy("cluster", "d")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )  # k*dim rows — bounded, independent of corpus size
        new = cents.copy()  # empty cluster keeps its previous centroid
        by_cluster: dict[int, list] = {}
        for r in stats:
            by_cluster.setdefault(r["cluster"], []).append(r)
        for cl, rows in by_cluster.items():
            for r in rows:
                new[cl, r["d"]] = r["s"] // r["n"]  # exact integer floor
        cents = new
    return q, cents


def kmeans_fit_predict(
    spark: SparkSession,
    sf_dir: str,
    k: int = K,
    n_iters: int = N_ITERS,
    emb: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, cluster) after ``n_iters`` deterministic Lloyd rounds."""
    q, cents = kmeans_fit(spark, sf_dir, k, n_iters, emb)
    return _assignments(q, cents)


# --- Multi-k fused training (the k-curve's 3 trainings in one scan) --------

_MULTI_PARTIAL_SCHEMA = StructType(
    [StructField("ki", IntegerType())] + list(_PARTIAL_SCHEMA.fields)
)


def _partial_sums_multi(q: DataFrame, cents_list: list[np.ndarray]) -> DataFrame:
    """One pass over ``q`` emitting the PARTIAL (cluster, dim, sum,
    count) rows of EVERY k's assignment, tagged with the k index ``ki``
    — the same integers each per-k :func:`_partial_sums` pass would
    emit (exact int64 scatter-adds over the same batch rows), so the
    fused training is bit-identical to the sequential one while paying
    ONE Arrow scan + ONE reduce job per Lloyd round instead of one per
    k (guide §2.4 share one scan, §4.2 batch the Python boundary)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            m = _batch_matrix(pdf)
            frames = []
            for ki, cents in enumerate(cents_list):
                k = cents.shape[0]
                a = _assign_np(m, cents)
                sums = np.zeros((k, DIM), dtype=np.int64)
                counts = np.zeros(k, dtype=np.int64)
                np.add.at(sums, a, m)
                np.add.at(counts, a, 1)
                nz = np.nonzero(counts)[0]
                frames.append(
                    pd.DataFrame(
                        {
                            "ki": np.full(nz.size * DIM, ki, dtype=np.int32),
                            "cluster": np.repeat(nz, DIM).astype(np.int32),
                            "d": np.tile(np.arange(DIM, dtype=np.int32), nz.size),
                            "s": sums[nz].reshape(-1),
                            "n": np.repeat(counts[nz], DIM),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return q.mapInPandas(batches, schema=_MULTI_PARTIAL_SCHEMA)


def kmeans_fit_multi(
    spark: SparkSession,
    sf_dir: str,
    ks: tuple[int, ...],
    n_iters: int = N_ITERS,
) -> dict[int, tuple[DataFrame, np.ndarray]]:
    """Train every k in ``ks`` over the SAME table-backed corpus with
    one init collect and one partial-sums job per Lloyd round (instead
    of one per k per round). Each k is shared under :func:`kmeans_fit`'s
    own key, so the results are bit-identical drop-ins for it — the
    first-``max(ks)`` init rows contain every smaller k's first-k init
    prefix, and each k's integer sums/floor divisions never see another
    k's state. The smallest k not yet shared trains together with every
    larger k; a larger k that was already shared keeps its entry."""
    order = sorted(set(ks))
    trained: dict[int, tuple[DataFrame, np.ndarray]] = {}

    def build(first: int) -> tuple[DataFrame, np.ndarray]:
        if first not in trained:
            todo = [k for k in order if k >= first]
            q = _corpus(spark, sf_dir)
            init = q.orderBy("vec_id").limit(max(todo)).collect()
            cents = {
                k: np.array([r["q"] for r in init[: min(k, len(init))]], dtype=np.int64)
                .reshape(min(k, len(init)), DIM)
                for k in todo
            }
            for _ in range(n_iters):
                stats = (
                    _partial_sums_multi(q, [cents[k] for k in todo])
                    .groupBy("ki", "cluster", "d")
                    .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
                    .collect()
                )  # sum_k k*dim rows — bounded, independent of corpus size
                new = {k: cents[k].copy() for k in todo}
                for r in stats:
                    k = todo[r["ki"]]
                    new[k][r["cluster"], r["d"]] = r["s"] // r["n"]
                cents = new
            trained.update((k, (q, cents[k])) for k in todo)
        return trained[first]

    return {k: shared(spark, _fit_key(sf_dir, k, n_iters), lambda k=k: build(k)) for k in order}


def kmeans_assign_multi(
    spark: SparkSession,
    sf_dir: str,
    ks: tuple[int, ...],
    n_iters: int = N_ITERS,
) -> DataFrame:
    """(vec_id, c0, c1, ...) — every k's final assignment in ONE Arrow
    pass over the quantized corpus (column ``c<i>`` is ``ks[i]``'s
    cluster). Each column is the same first-index argmin over the same
    trained centroids :func:`_assignments` computes per k."""
    fits = kmeans_fit_multi(spark, sf_dir, ks, n_iters)
    q = fits[ks[0]][0]
    cents_list = [fits[k][1] for k in ks]
    schema = StructType(
        [StructField("vec_id", LongType())]
        + [StructField(f"c{i}", IntegerType()) for i in range(len(ks))]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            m = _batch_matrix(pdf)
            cols = {"vec_id": pdf["vec_id"].to_numpy()}
            for i, cents in enumerate(cents_list):
                cols[f"c{i}"] = _assign_np(m, cents).astype(np.int32)
            yield pd.DataFrame(cols)

    return q.mapInPandas(batches, schema=schema)


def _centroid_chain(
    k: int, n_iters: int, prefix: str = "", with_q: bool = True
) -> tuple[str, str]:
    """DuckDB CTE chain replaying the training loop (the BPE-oracle
    technique: deterministic driver loop → chained SQL stages).
    Returns (cte_sql_starting_with_WITH, final_centroid_cte_name).

    ``prefix`` renames every k-dependent CTE (c0/aN/uN/cN) so several
    chains — e.g. one per k in a tradeoff curve — compose in one
    statement; the quantized-vector CTE ``q`` is k-independent and
    shared, so follow-up chains pass ``with_q=False`` and start with a
    ',' continuation instead of WITH."""
    dims = f"range(1, {DIM + 1})"
    q_cte = f"""q AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * {QSCALE} + 0.5) AS BIGINT)) AS q
            FROM embeddings
        ),
        """
    sql = [
        f"""
        {"WITH " + q_cte if with_q else ", "}{prefix}c0 AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl, q AS c
            FROM q ORDER BY vec_id LIMIT {k}
        )"""
    ]
    prev = f"{prefix}c0"
    for i in range(n_iters):
        a, u, c = f"{prefix}a{i}", f"{prefix}u{i}", f"{prefix}c{i + 1}"
        sql.append(f"""
        , {a} AS (
            SELECT vec_id, cl FROM (
                SELECT q.vec_id, {prev}.cl,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                           list_sum(list_transform({dims},
                               i -> (q.q[i] - {prev}.c[i]) * (q.q[i] - {prev}.c[i]))),
                           {prev}.cl) AS rn
                FROM q CROSS JOIN {prev}
            ) WHERE rn = 1
        )
        , {u} AS (
            SELECT a.cl, d.i, SUM(q.q[d.i]) AS s, COUNT(*) AS n
            FROM {a} a JOIN q USING (vec_id), (SELECT unnest({dims}) AS i) d
            GROUP BY 1, 2
        )
        , {c} AS (
            SELECT p.cl,
                   COALESCE(u.c, p.c) AS c
            FROM {prev} p
            LEFT JOIN (
                SELECT cl,
                       list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
                FROM {u} GROUP BY cl
            ) u USING (cl)
        )""")
        prev = f"{prefix}c{i + 1}"
    return "".join(sql), prev


def _oracle_sql(k: int, n_iters: int) -> str:
    chain, prev = _centroid_chain(k, n_iters)
    dims = f"range(1, {DIM + 1})"
    # final assignment against the last centroids
    return chain + f"""
        SELECT vec_id, CAST(cl AS INTEGER) AS cluster FROM (
            SELECT q.vec_id, {prev}.cl,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                       list_sum(list_transform({dims},
                           i -> (q.q[i] - {prev}.c[i]) * (q.q[i] - {prev}.c[i]))),
                       {prev}.cl) AS rn
            FROM q CROSS JOIN {prev}
        ) WHERE rn = 1"""


@query(
    "kmeans_clusters",
    oracle=_oracle_sql(K, N_ITERS),
    doc=f"Deterministic distributed k-means (k={K}, {N_ITERS} Lloyd "
    "rounds) over the embeddings: integer-quantized vectors, exact "
    "int64 distance/centroid arithmetic (floor-division means), ties "
    "and empty clusters resolved deterministically — so the DuckDB "
    "oracle replays every iteration bit-for-bit. Each round is one "
    "narrow numpy pass emitting partial per-cluster sums plus a "
    "bounded k*dim driver collect; vectors never reshuffle. The "
    "trained centroids are the scale upgrade for the IVF index's "
    "first-k coarse centroids (similarity.py).",
)
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_fit_predict(spark, sf_dir)


# --- IVF search over TRAINED centroids -------------------------------------
#
# similarity.py's ann_ivf_topk documents that "a real deployment would
# k-means" its coarse centroids; this is that deployment: the identical
# IVF plan (ivf_topk_from_centroids) fed by the deterministic trainer
# above, oracle-replayed end-to-end (training CTE chain + assignment +
# probe + exact in-list cosine) in DuckDB.

IVF_K = 16
IVF_ITERS = 2


def _trained_ivf_oracle() -> str:
    from minispark_spark.functions.vectors import dot_sql, norm_sql
    from minispark_spark.operators.similarity import N_PROBE, N_QUERIES, TOP_K

    chain, cfinal = _centroid_chain(IVF_K, IVF_ITERS)
    return chain + f"""
        , cent AS (
            SELECT cl AS cent_id,
                   list_transform(c, v -> CAST(v AS DOUBLE) / {QSCALE}.0) AS cvec
            FROM {cfinal}
        ),
        centn AS (SELECT cent_id, cvec, {norm_sql("cvec")} AS cnrm FROM cent),
        nv AS (SELECT vec_id, embedding, {norm_sql("embedding")} AS nrm
               FROM embeddings),
        assign AS (
            SELECT vec_id, cent_id FROM (
                SELECT e.vec_id, c.cent_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY {dot_sql("e.embedding", "c.cvec")} / nullif(e.nrm * c.cnrm, 0.0)
                                    DESC, c.cent_id) AS ar
                FROM nv e CROSS JOIN centn c
            ) WHERE ar = 1
        ),
        probe AS (
            SELECT query_id, cent_id FROM (
                SELECT qv.vec_id AS query_id, c.cent_id,
                       ROW_NUMBER() OVER (PARTITION BY qv.vec_id
                           ORDER BY {dot_sql("qv.embedding", "c.cvec")} / nullif(qv.nrm * c.cnrm, 0.0)
                                    DESC, c.cent_id) AS pr
                FROM nv qv CROSS JOIN centn c
                WHERE qv.vec_id < {N_QUERIES}
            ) WHERE pr <= {N_PROBE}
        ),
        scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   {dot_sql("qe.embedding", "ne.embedding")} / nullif(qe.nrm * ne.nrm, 0.0)
                       AS cosine
            FROM probe p
            JOIN assign a ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id
            JOIN nv qe ON qe.vec_id = p.query_id
            JOIN nv ne ON ne.vec_id = a.vec_id
        )
        SELECT query_id, neighbor_id, cosine, rk FROM (
            SELECT query_id, neighbor_id, cosine,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rk
            FROM scored
        ) WHERE rk <= {TOP_K}"""


@query(
    "ann_ivf_trained_topk",
    oracle=_trained_ivf_oracle(),
    doc=f"IVF ANN with TRAINED coarse centroids: k-means (k={IVF_K}, "
    f"{IVF_ITERS} deterministic integer rounds) replaces the first-N "
    "centroid convention of ann_ivf_topk, through the identical search "
    "plan (similarity.ivf_topk_from_centroids: broadcast centroids, one "
    "assignment pass, probe-limited exact cosine). Trained centroids "
    "balance the inverted lists, which is what keeps probe cost flat as "
    "the corpus grows. The oracle replays training AND search end-to-end "
    "in DuckDB — the full pipeline is bit-exact cross-engine.",
)
def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minispark_spark.functions import vectors
    from minispark_spark.operators.similarity import ivf_topk_from_centroids

    _, cents = kmeans_fit(spark, sf_dir, k=IVF_K, n_iters=IVF_ITERS)
    cvecs = [
        (j, [v / QSCALE for v in map(int, cents[j])]) for j in range(len(cents))
    ]
    cent = F.broadcast(
        load_table(spark, sf_dir, "embeddings")
        .sparkSession.createDataFrame(cvecs, "cent_id int, cvec array<double>")
        .select("cent_id", "cvec", vectors.norm(F.col("cvec")).alias("cnrm"))
    )
    # fan_out before cache: the assignment/probe scans are per-row
    # vector folds over a 1-3 partition gate scan (guide §2.5; no-op
    # on a wide corpus scan).
    nv = fan_out(
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding", vectors.norm(F.col("embedding")).alias("nrm"))
    ).cache()
    return ivf_topk_from_centroids(nv, cent)
