"""Similarity search over the embeddings table (array<float>, 64-dim).

- ``ann_cosine_topk`` — brute-force top-k: broadcast the (small) query
  set against all candidates, rank per query. This is the exact
  baseline; at 100 TB the candidate scan is a single pass and the
  broadcast keeps it shuffle-free (one final top-k per query via
  window over the query partition).
- ``embedding_near_dup`` — all pairs above a cosine threshold.
  Quadratic self-join: correct at test scale, the motivation for the
  LSH/IVF variants planned next (bucketed candidates instead of the
  full cross product).

Dot products are JVM-side folds (functions/vectors.py), matched
bit-for-bit by the DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from minispark_spark.functions import pairs, vectors
from minispark_spark.registry import query
from minispark_spark.sources.tables import fan_out, load_table

N_QUERIES = 10
TOP_K = 5
NEAR_DUP_COSINE = 0.35


@query(
    "ann_cosine_topk",
    oracle=f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                   FROM embeddings WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   {vectors.cosine_sql("q.qe", "c.embedding")} AS cosine
            FROM q JOIN embeddings c ON c.vec_id <> q.query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cosine,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rk
            FROM scored
        )
        SELECT query_id, neighbor_id, cosine, rk FROM ranked WHERE rk <= {TOP_K}
    """,
    doc=f"Brute-force cosine top-{TOP_K} for {N_QUERIES} query vectors: "
    "broadcast queries × full candidate scan → per-query window top-k.",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
        )
    )
    scored = q.join(fan_out(emb), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        vectors.cosine(F.col("qe"), F.col("embedding")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", "cosine", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= TOP_K)
    )


@query(
    "embedding_near_dup",
    oracle=f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {vectors.cosine_sql("a.embedding", "b.embedding")} AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {vectors.cosine_sql("a.embedding", "b.embedding")} >= {NEAR_DUP_COSINE}
    """,
    doc=f"Embedding near-duplicate pairs (cosine >= {NEAR_DUP_COSINE}) via "
    "self-join — exact baseline that LSH bucketing approximates at scale.",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.alias("a")
    b = emb.alias("b")
    cos = vectors.cosine(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= NEAR_DUP_COSINE)
    )


# --- Random-hyperplane LSH: the scale path for near-dup pairs --------------
#
# L tables x k sign-bits. Hyperplane weights are deterministic +-1 derived
# from (j * A_i + B_i) % 97 < 48, MATERIALIZED as literal arrays on both
# engines: the projection is then a plain zip_with/aggregate dot against a
# constant vector (one lambda per element) instead of a per-element
# CASE/element_at chain — ~6x faster in Catalyst's interpreted HOF path,
# and the DuckDB oracle replays the identical left-to-right fold.

LSH_TABLES = 8
LSH_BITS = 8  # 256 buckets/table; ~92% recall for cos>=0.9 across 8 tables
LSH_DIM = 64  # embeddings are 64-d (TESTDATA.md)
_LSH_AB = [
    ((2_654_435_761 * (i + 3)) % 1_000_000_007 % 10_000 | 1, (40_503 * (i + 11)) % 9_973)
    for i in range(LSH_TABLES * LSH_BITS)
]
_LSH_W = [
    [1.0 if (j * a + b) % 97 < 48 else -1.0 for j in range(1, LSH_DIM + 1)]
    for a, b in _LSH_AB
]


def _proj_sql(emb_expr: str, i: int) -> str:
    w = "[" + ", ".join(f"{x:.1f}" for x in _LSH_W[i]) + "]"
    return vectors.dot_sql(emb_expr, f"{w}::DOUBLE[]")


def _bucket_sql(emb_expr: str, t: int) -> str:
    acc = "0"
    for j in range(LSH_BITS):
        bit = f"(CASE WHEN {_proj_sql(emb_expr, t * LSH_BITS + j)} > 0 THEN 1 ELSE 0 END)"
        acc = f"(({acc}) * 2 + {bit})"
    return acc


@F.pandas_udf(ArrayType(LongType()))
def _lsh_buckets_udf(emb: "pd.Series") -> "pd.Series":
    """All LSH_TABLES bucket ids per vector, Arrow-batched.

    BIT-IDENTICAL to the DuckDB oracle's list_reduce fold: products
    x_j * (+-1.0) are exact (float32 widened to float64), and
    ``np.add.accumulate`` is a strict left-to-right float64 fold —
    verified equal to the SQL fold on real data. 64 interpreted
    Catalyst HOF folds per row cost ~3 ms/row; this batch form is
    ~1000x cheaper and keeps the candidate machinery JVM-side.
    """
    import numpy as np

    E = np.asarray([np.asarray(v, dtype=np.float64) for v in emb])
    n = E.shape[0]
    if n == 0:
        return pd.Series([], dtype=object)
    signs = np.empty((n, LSH_TABLES * LSH_BITS), dtype=np.int64)
    W = np.asarray(_LSH_W)
    for i in range(LSH_TABLES * LSH_BITS):
        proj = np.add.accumulate(E * W[i], axis=1)[:, -1]
        signs[:, i] = proj > 0
    pows = 1 << np.arange(LSH_BITS - 1, -1, -1)
    buckets = np.stack(
        [signs[:, t * LSH_BITS : (t + 1) * LSH_BITS] @ pows for t in range(LSH_TABLES)],
        axis=1,
    )
    return pd.Series(list(buckets))


_LSH_BUCKET_UNION_SQL = " UNION ALL ".join(
    f"SELECT vec_id, {t} AS tbl, {_bucket_sql('embedding', t)} AS bucket FROM embeddings"
    for t in range(LSH_TABLES)
)


# Bucket-size guard for the hyperplane-LSH pair expansion — the
# embedding twin of operators/dedup.simhash_candidate_pairs' tiered
# guard. A replica-dense corpus (mirrors, augmentation copies) piles
# near-identical vectors into the same sign buckets and the i<j
# expansion goes quadratic in bucket size: measured on 10x replica
# embeddings (tools/gen_docs_scale.py), raw pair mass grew 80k -> 8.7M
# (109x for 10x vectors, max bucket 34 -> 363). Dormant below the cap
# (max bucket at sf0.1 is 34), so the exact-candidate oracle still
# matches at every gate SF.
EMB_LSH_BUCKET_CAP = 64

_VEC_CHAIN_EXPR = (
    "transform(slice({a}, 1, size({a}) - 1),"
    " (x, i) -> struct(x AS vec_a, {a}[i + 1] AS vec_b))"
)


def lsh_candidate_pairs_guarded(
    nv: DataFrame, buckets: DataFrame, cap: int = EMB_LSH_BUCKET_CAP
) -> DataFrame:
    """Candidate ``(vec_a, vec_b)`` pairs from an exploded
    ``(vec_id, tbl, bucket)`` frame, with the tiered bucket-size guard.

    Tiers (the simhash guard's structure, adapted to multi-table
    hyperplane LSH):

    1. buckets ``<= cap``: grouped all-pairs expansion (one shuffle);
    2. oversized buckets: members are REFINED by the next table's
       bucket value (8 extra sign bits, cyclic) before expansion —
       unrelated vectors that merely collided in one table split
       apart; the refinement signatures are recomputed for the
       oversized members ONLY (one Arrow pass over that broadcast-
       bounded subset, not the corpus);
    3. a refined bucket still past the cap groups by the FULL
       8-table signature: same-signature vectors (near-identical
       under every hyperplane) emit the sorted adjacent chain —
       linear output that keeps a true-duplicate clique connected
       for components-based survivorship — and one representative
       per signature group pairs across groups (all-pairs to the
       cap, chained past it).

    Unlike simhash's tier 3 (hamming-0 groups provably pass
    verification), an embedding chain link is only *near-certain* to
    pass the cosine check — equal sign buckets bound nothing. The
    guard is therefore a bounded-recall tradeoff on saturated corpora;
    ``embedding_lsh_oversized_buckets`` exposes every bucket it
    touched, and passing a corpus-sized ``cap`` restores exact banded
    recall. Dormant path = exactly the unguarded plan plus one bounded
    driver scalar (max bucket size over the cached grouped frame).
    """
    grouped = (
        buckets.groupBy("tbl", "bucket")
        .agg(F.array_sort(F.collect_set("vec_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .cache()
    )
    max_sz = grouped.agg(F.max(F.size("ids"))).collect()[0][0] or 0
    small = (
        (grouped if max_sz <= cap else grouped.filter(F.size("ids") <= cap))
        .select(F.explode(pairs.sorted_pair_structs("ids", "vec_a", "vec_b")).alias("p"))
        .select("p.vec_a", "p.vec_b")
    )
    if max_sz <= cap:
        # A pair sharing two clean tables still collides twice.
        return small.distinct()
    over_keys = grouped.filter(F.size("ids") > cap).select("tbl", "bucket")
    over_members = buckets.join(F.broadcast(over_keys), ["tbl", "bucket"])
    # One Arrow signature pass over the oversized members only — the
    # member set is the saturated fraction, not the corpus.
    over_sigs = nv.join(
        F.broadcast(over_members.select("vec_id").distinct()), "vec_id"
    ).select("vec_id", _lsh_buckets_udf(F.col("embedding")).alias("sigarr"))
    refined = (
        over_members.join(over_sigs, "vec_id")
        .withColumn("rbucket", F.expr(f"sigarr[(tbl + 1) % {LSH_TABLES}]"))
        .groupBy("tbl", "bucket", "rbucket")
        .agg(F.collect_list(F.struct("sigarr", "vec_id")).alias("mem"))
        .filter(F.size("mem") >= 2)
    )
    ref_small = (
        refined.filter(F.size("mem") <= cap)
        .select(F.array_sort(F.expr("transform(mem, x -> x.vec_id)")).alias("ids"))
        .select(F.explode(pairs.sorted_pair_structs("ids", "vec_a", "vec_b")).alias("p"))
        .select("p.vec_a", "p.vec_b")
    )
    sig_groups = (
        refined.filter(F.size("mem") > cap)
        .select("tbl", "bucket", "rbucket", F.explode("mem").alias("m"))
        .groupBy("tbl", "bucket", "rbucket", F.col("m.sigarr").alias("gsig"))
        .agg(F.array_sort(F.collect_set("m.vec_id")).alias("gids"))
    )
    chain_within = (
        sig_groups.filter(F.size("gids") >= 2)
        .select(F.explode(F.expr(_VEC_CHAIN_EXPR.format(a="gids"))).alias("p"))
        .select("p.vec_a", "p.vec_b")
    )
    reps = (
        sig_groups.groupBy("tbl", "bucket", "rbucket")
        .agg(F.array_sort(F.collect_set(F.expr("gids[0]"))).alias("rids"))
        .filter(F.size("rids") >= 2)
    )
    rep_pairs = (
        reps.filter(F.size("rids") <= cap)
        .select(F.explode(pairs.sorted_pair_structs("rids", "vec_a", "vec_b")).alias("p"))
        .select("p.vec_a", "p.vec_b")
    )
    rep_chain = (
        reps.filter(F.size("rids") > cap)
        .select(F.explode(F.expr(_VEC_CHAIN_EXPR.format(a="rids"))).alias("p"))
        .select("p.vec_a", "p.vec_b")
    )
    return (
        small.unionByName(ref_small)
        .unionByName(chain_within)
        .unionByName(rep_pairs)
        .unionByName(rep_chain)
        .distinct()
    )


def embedding_lsh_oversized_buckets(
    nv: DataFrame, cap: int = EMB_LSH_BUCKET_CAP
) -> DataFrame:
    """Observability for the guard (no silent caps): every
    ``(tbl, bucket, n_members)`` the tiers touched — empty on healthy
    corpora. ``nv`` needs (vec_id, embedding)."""
    buckets = nv.select(
        "vec_id",
        F.posexplode(_lsh_buckets_udf(F.col("embedding"))).alias("tbl", "bucket"),
    )
    return (
        buckets.groupBy("tbl", "bucket")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > cap)
    )


@query(
    "embedding_near_dup_lsh",
    oracle=f"""
        WITH nv AS (SELECT vec_id, embedding,
                           {vectors.norm_sql("embedding")} AS nrm
                    FROM embeddings),
        buckets AS ({_LSH_BUCKET_UNION_SQL}),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM buckets a JOIN buckets b
              ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, cosine FROM (
            SELECT c.vec_a, c.vec_b,
                   {vectors.dot_sql("ea.embedding", "eb.embedding")} / nullif(ea.nrm * eb.nrm, 0.0)
                       AS cosine
            FROM cand c
            JOIN nv ea ON ea.vec_id = c.vec_a
            JOIN nv eb ON eb.vec_id = c.vec_b
        ) WHERE cosine >= {NEAR_DUP_COSINE}
    """,
    doc=f"Near-dup pairs via random-hyperplane LSH ({LSH_TABLES} tables x "
    f"{LSH_BITS} sign-bits) + exact cosine verification — the scale path "
    "that replaces the quadratic self-join: candidates come only from "
    "bucket collisions (one shuffle on (table, bucket)). Norms are "
    "precomputed once per vector, so verification is one dot per pair. "
    "Recall for true near-dups (cos>=0.9) is ~98%; at the demo threshold "
    f"{NEAR_DUP_COSINE} (synthetic noise-tail pairs) it is ~36%.",
)
def embedding_near_dup_lsh(
    spark: SparkSession, sf_dir: str, cap: int = EMB_LSH_BUCKET_CAP
) -> DataFrame:
    # Repartition to all cores BEFORE the projection-heavy bucket pass:
    # the parquet source may arrive in very few splits, and 64 interpreted
    # dot-folds per row on 3 partitions wastes 29 cores.
    nv = (
        load_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", "embedding", vectors.norm(F.col("embedding")).alias("nrm"))
        .cache()
    )
    buckets = nv.select(
        "vec_id", F.posexplode(_lsh_buckets_udf(F.col("embedding"))).alias("tbl", "bucket")
    )

    # Grouped pair expansion behind the tiered bucket-size guard: one
    # shuffle on (tbl, bucket) + JVM-side i<j expansion replaces the
    # bucket self-join; saturated buckets are refined/chained instead
    # of expanded quadratically (dormant at every gate SF).
    cand = lsh_candidate_pairs_guarded(nv, buckets, cap=cap)
    # Batched dot (bit-identical fold) — the interpreted HOF at 64
    # lambda evals per pair dominates verification otherwise.
    cos = vectors.dot_batched(F.col("ea"), F.col("eb")) / F.nullif(
        F.col("na") * F.col("nb"), F.lit(0.0)
    )
    return (
        cand.join(
            nv.select(
                F.col("vec_id").alias("vec_a"),
                F.col("embedding").alias("ea"),
                F.col("nrm").alias("na"),
            ),
            "vec_a",
        )
        .join(
            nv.select(
                F.col("vec_id").alias("vec_b"),
                F.col("embedding").alias("eb"),
                F.col("nrm").alias("nb"),
            ),
            "vec_b",
        )
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= NEAR_DUP_COSINE)
    )


# --- IVF (inverted-file) ANN: the index-style scale path for top-k ---------
#
# Deterministic "training": the first N_CENTROIDS vectors act as coarse
# centroids (a real deployment would k-means; the plan shape is identical).
# Every vector is assigned to its nearest centroid (one broadcast pass);
# each query probes its N_PROBE nearest centroids and ranks exact cosine
# only within those inverted lists — candidate work drops from O(N) to
# O(N * nprobe / ncentroids) per query, and the assignment shuffle is the
# only wide dependency.

N_CENTROIDS = 16
N_PROBE = 4


@query(
    "ann_ivf_topk",
    oracle=f"""
        WITH nv AS (SELECT vec_id, embedding,
                           {vectors.norm_sql("embedding")} AS nrm
                    FROM embeddings),
        cent AS (SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm
                 FROM nv WHERE vec_id < {N_CENTROIDS}),
        assign AS (
            SELECT vec_id, cent_id FROM (
                SELECT e.vec_id, c.cent_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY {vectors.dot_sql("e.embedding", "c.cvec")} / nullif(e.nrm * c.cnrm, 0.0)
                                    DESC, c.cent_id) AS ar
                FROM nv e CROSS JOIN cent c
            ) WHERE ar = 1
        ),
        probe AS (
            SELECT query_id, cent_id FROM (
                SELECT q.vec_id AS query_id, c.cent_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY {vectors.dot_sql("q.embedding", "c.cvec")} / nullif(q.nrm * c.cnrm, 0.0)
                                    DESC, c.cent_id) AS pr
                FROM nv q CROSS JOIN cent c
                WHERE q.vec_id < {N_QUERIES}
            ) WHERE pr <= {N_PROBE}
        ),
        scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   {vectors.dot_sql("qe.embedding", "ne.embedding")} / nullif(qe.nrm * ne.nrm, 0.0)
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
        ) WHERE rk <= {TOP_K}
    """,
    doc=f"IVF ANN top-{TOP_K}: {N_CENTROIDS} coarse centroids (broadcast), "
    f"one assignment pass, queries probe {N_PROBE} lists — exact cosine "
    "only inside probed lists. Same output shape as ann_cosine_topk but "
    "per-query candidate work is nprobe/ncentroids of the corpus.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out before cache: assignment + probe scans over nv are
    # per-row vector folds; gate scans arrive in 1-3 partitions
    # (guide §2.5; no-op on a wide corpus scan).
    nv = fan_out(
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding", vectors.norm(F.col("embedding")).alias("nrm"))
    ).cache()
    cent = F.broadcast(
        nv.filter(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cvec"),
            F.col("nrm").alias("cnrm"),
        )
    )
    return ivf_topk_from_centroids(nv, cent)


def ivf_assign(nv: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cent_id): nearest-centroid list assignment of every
    corpus vector — the probe-independent half of an IVF search.
    Exposed so multi-probe sweeps (ann_ivf_probe_curve) can compute and
    cache it ONCE instead of re-running the corpus x centroids cosine
    fold per probe setting (guide §5 multi-action reuse)."""
    cos_c = vectors.dot(F.col("embedding"), F.col("cvec")) / F.nullif(
        F.col("nrm") * F.col("cnrm"), F.lit(0.0)
    )
    aw = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("cent_id"))
    return (
        nv.join(cent)
        .select("vec_id", "cent_id", cos_c.alias("ccos"))
        .select("*", F.row_number().over(aw).alias("ar"))
        .filter(F.col("ar") == 1)
        .select("vec_id", "cent_id")
    )


def ivf_topk_from_centroids(
    nv: DataFrame,
    cent: DataFrame,
    n_probe: int = N_PROBE,
    assign: DataFrame | None = None,
) -> DataFrame:
    """IVF search against any (cent_id, cvec, cnrm) coarse-centroid
    frame (broadcast by the caller): one assignment pass, probe
    ``N_PROBE`` lists per query, exact cosine inside probed lists.
    ``ann_ivf_topk`` uses the deterministic first-N centroids;
    ``ann_ivf_trained_topk`` (operators/kmeans.py) feeds k-means-trained
    centroids through the identical plan. ``assign`` overrides the
    internally-built list assignment with a (cached) precomputed one —
    identical frame, shared across probe settings."""
    cos_c = vectors.dot(F.col("embedding"), F.col("cvec")) / F.nullif(
        F.col("nrm") * F.col("cnrm"), F.lit(0.0)
    )

    if assign is None:
        assign = ivf_assign(nv, cent)

    probe = (
        nv.filter(F.col("vec_id") < N_QUERIES)
        .join(cent)
        .select(F.col("vec_id").alias("query_id"), "cent_id", cos_c.alias("ccos"))
        .select(
            "*",
            F.row_number()
            .over(Window.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("cent_id")))
            .alias("pr"),
        )
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "cent_id")
    )

    cand = (
        F.broadcast(probe)
        .join(assign, "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
    )

    cos_pair = vectors.dot(F.col("qe"), F.col("ne")) / F.nullif(
        F.col("qn") * F.col("nn"), F.lit(0.0)
    )
    scored = (
        cand.join(
            nv.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qe"),
                F.col("nrm").alias("qn"),
            ),
            "query_id",
        )
        .join(
            nv.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("ne"),
                F.col("nrm").alias("nn"),
            ),
            F.col("vec_id") == F.col("neighbor_id"),
        )
        .select("query_id", "neighbor_id", cos_pair.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.select("*", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


@query(
    "embedding_quantize_int8",
    oracle="""
        WITH q AS (
            SELECT vec_id,
                   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
                       AS scale
            FROM embeddings
        )
        SELECT e.vec_id,
               q.scale,
               CAST(list_max(list_transform(e.embedding,
                    x -> abs(floor(CAST(x AS DOUBLE) / nullif(q.scale, 0.0) + 0.5) * q.scale
                             - CAST(x AS DOUBLE)))) AS DOUBLE) AS max_abs_err,
               CAST(list_max(list_transform(e.embedding,
                    x -> abs(floor(CAST(x AS DOUBLE) / nullif(q.scale, 0.0) + 0.5)))) AS DOUBLE)
                   AS max_code
        FROM embeddings e JOIN q ON q.vec_id = e.vec_id
    """,
    doc="Symmetric int8 scalar quantization of the embedding column — the "
    "storage-compression step of an embedding pipeline (4x smaller, "
    "dot-product-compatible). Per-vector scale = max|x|/127; codes are "
    "floor(x/scale + 0.5) (explicit half-up rounding — ROUND() ties "
    "differ between engines, floor(+0.5) does not); reports max "
    "dequantization error and max |code| (≤127 by construction). Every "
    "operation is a single IEEE op, so Spark and DuckDB agree bitwise. "
    "Narrow per-row transform over array lambdas — no shuffle, no UDFs.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.col("embedding")
    absd = F.transform(x, lambda v: F.abs(v.cast("double")))
    scale = (F.array_max(absd) / F.lit(127.0)).alias("scale")
    emb = emb.select("vec_id", "embedding", scale)
    # nullif: the zero vector has scale 0 -> codes/err are NULL (not a
    # divide-by-zero crash); DuckDB twin matches.
    s = F.nullif(F.col("scale"), F.lit(0.0))
    code = lambda v: F.floor(v.cast("double") / s + F.lit(0.5))  # noqa: E731
    err = F.transform(x, lambda v: F.abs(code(v) * s - v.cast("double")))
    codes = F.transform(x, lambda v: F.abs(code(v)))
    return emb.select(
        "vec_id",
        "scale",
        F.array_max(err).cast("double").alias("max_abs_err"),
        F.array_max(codes).cast("double").alias("max_code"),
    )


from minispark_spark.registry import REGISTRY as _REG  # noqa: E402

@query(
    "ann_ivf_recall",
    oracle=f"""
        WITH bf AS ({_REG["ann_cosine_topk"].oracle}),
        ivf AS ({_REG["ann_ivf_topk"].oracle})
        SELECT bf.query_id,
               COUNT(ivf.neighbor_id) AS n_hits,
               CAST(COUNT(ivf.neighbor_id) AS DOUBLE) / {TOP_K} AS recall_at_k
        FROM bf LEFT JOIN ivf
          ON ivf.query_id = bf.query_id AND ivf.neighbor_id = bf.neighbor_id
        GROUP BY bf.query_id
    """,
    doc=f"Recall@{TOP_K} audit of the IVF index against the exact "
    "brute-force baseline, per query — the approximation-quality "
    "measurement every ANN deployment needs before trusting the fast "
    "path. Left-join ground truth to IVF hits, count matches. Both "
    "inputs are deterministic, so even this meta-query oracle-matches.",
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    bf = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = ann_ivf_topk(spark, sf_dir).select(
        F.col("query_id").alias("i_query"), F.col("neighbor_id").alias("i_neighbor")
    )
    return (
        bf.join(
            ivf,
            (F.col("i_query") == F.col("query_id"))
            & (F.col("i_neighbor") == F.col("neighbor_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("i_neighbor").alias("n_hits"),
            (F.count("i_neighbor").cast("double") / TOP_K).alias("recall_at_k"),
        )
    )


# --- Hard-negative mining ---------------------------------------------------
#
# The contrastive-training data primitive: for each anchor, the most
# similar vectors that carry a DIFFERENT label. Same broadcast-scan
# shape as ann_cosine_topk (no corpus shuffle); the label predicate is
# evaluated in the join condition, so mismatched-label pairs never
# materialize.


@query(
    "ann_hard_negatives",
    oracle=f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS qlabel
                   FROM embeddings WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT q.query_id, q.qlabel, c.vec_id AS neighbor_id,
                   c.label AS neg_label,
                   {vectors.cosine_sql("q.qe", "c.embedding")} AS cosine
            FROM q JOIN embeddings c
              ON c.vec_id <> q.query_id AND c.label <> q.qlabel
        )
        SELECT query_id, qlabel, neighbor_id, neg_label, cosine, rk FROM (
            SELECT query_id, qlabel, neighbor_id, neg_label, cosine,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rk
            FROM scored
        ) WHERE rk <= {TOP_K}
    """,
    doc=f"Hard-negative mining for contrastive training: per anchor, the "
    f"top-{TOP_K} most-cosine-similar vectors with a DIFFERENT label — "
    "the pairs that teach an embedding model the most. Broadcast anchors "
    "against one candidate scan (shuffle-free), label inequality inside "
    "the join condition, per-anchor window top-k.",
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("label").alias("qlabel"),
        )
    )
    scored = q.join(
        emb,
        (F.col("vec_id") != F.col("query_id")) & (F.col("label") != F.col("qlabel")),
    ).select(
        "query_id",
        "qlabel",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neg_label"),
        vectors.cosine(F.col("qe"), F.col("embedding")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.select(
            "query_id", "qlabel", "neighbor_id", "neg_label", "cosine",
            F.row_number().over(w).cast("int").alias("rk"),
        )
        .filter(F.col("rk") <= TOP_K)
    )


# --- Matryoshka-truncation audit -------------------------------------------

TRUNC_DIM = 16


@query(
    "ann_truncated_recall",
    oracle=f"""
        WITH full_bf AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                           {vectors.cosine_sql("q.embedding", "c.embedding")} DESC,
                           c.vec_id) AS rk
                FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
                WHERE q.vec_id < {N_QUERIES}
            ) WHERE rk <= {TOP_K}
        ),
        trunc_bf AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                           {vectors.cosine_sql(f"q.embedding[1:{TRUNC_DIM}]", f"c.embedding[1:{TRUNC_DIM}]")}
                               DESC, c.vec_id) AS rk
                FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
                WHERE q.vec_id < {N_QUERIES}
            ) WHERE rk <= {TOP_K}
        )
        SELECT f.query_id,
               CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_hits,
               CAST(COUNT(t.neighbor_id) AS DOUBLE) / {TOP_K} AS recall_at_k
        FROM full_bf f LEFT JOIN trunc_bf t
          ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
        GROUP BY f.query_id
    """,
    doc=f"Matryoshka-truncation audit: recall@{TOP_K} of cosine search "
    f"over the first {TRUNC_DIM} of 64 dimensions against full-dim "
    "ground truth — the measurement behind shipping truncated (MRL) "
    "embeddings for a 4x index-size cut. Same broadcast-scan shape as "
    "the exact baseline, twice; both deterministic, so even this "
    "meta-query oracle-matches bit-for-bit.",
)
def ann_truncated_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")

    def topk(vec_expr) -> DataFrame:
        q = F.broadcast(
            emb.filter(F.col("vec_id") < N_QUERIES).select(
                F.col("vec_id").alias("query_id"), vec_expr.alias("qe")
            )
        )
        scored = q.join(
            emb.select("vec_id", vec_expr.alias("ce")),
            F.col("vec_id") != F.col("query_id"),
        ).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            vectors.cosine(F.col("qe"), F.col("ce")).alias("cosine"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id")
        )
        return (
            scored.select("query_id", "neighbor_id", F.row_number().over(w).alias("rk"))
            .filter(F.col("rk") <= TOP_K)
            .select("query_id", "neighbor_id")
        )

    full_bf = topk(F.col("embedding"))
    trunc_bf = topk(F.slice(F.col("embedding"), 1, TRUNC_DIM)).select(
        F.col("query_id").alias("t_query"), F.col("neighbor_id").alias("t_neighbor")
    )
    return (
        full_bf.join(
            trunc_bf,
            (F.col("t_query") == F.col("query_id"))
            & (F.col("t_neighbor") == F.col("neighbor_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("t_neighbor").alias("n_hits"),
            (F.count("t_neighbor").cast("double") / TOP_K).alias("recall_at_k"),
        )
    )


@query(
    "ann_retrieval_metrics",
    oracle=f"""
        WITH topk AS (
            SELECT query_id, qlabel, neighbor_id, nlabel, rk FROM (
                SELECT q.vec_id AS query_id, q.label AS qlabel,
                       c.vec_id AS neighbor_id, c.label AS nlabel,
                       CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                           {vectors.cosine_sql("q.embedding", "c.embedding")} DESC,
                           c.vec_id) AS BIGINT) AS rk
                FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
                WHERE q.vec_id < {N_QUERIES}
            ) WHERE rk <= {TOP_K}
        )
        SELECT query_id,
               CAST(SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_relevant,
               MIN(CASE WHEN nlabel = qlabel THEN rk END) AS first_rank,
               CAST(1000000000 // MIN(CASE WHEN nlabel = qlabel THEN rk END)
                    AS DOUBLE) / 1000000000.0 AS reciprocal_rank
        FROM topk
        GROUP BY query_id
    """,
    doc=f"Retrieval-quality metrics over the exact top-{TOP_K}: per "
    "anchor, how many same-label neighbors made the list (hit count), "
    "the first relevant rank, and its reciprocal rank — the MRR-style "
    "eval every retrieval/RAG index ships with. Reciprocal rank is "
    "quantized via integer division (1e9 // rank) so the value is "
    "cross-engine exact without float-ordering hazards; anchors with "
    "no relevant hit report NULLs.",
)
def ann_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("label").alias("qlabel"),
        )
    )
    scored = q.join(fan_out(emb), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "qlabel",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("nlabel"),
        vectors.cosine(F.col("qe"), F.col("embedding")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    topk = scored.select(
        "query_id", "qlabel", "nlabel", F.row_number().over(w).cast("long").alias("rk")
    ).filter(F.col("rk") <= TOP_K)
    rel_rk = F.min(F.when(F.col("nlabel") == F.col("qlabel"), F.col("rk")))
    return (
        topk.groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("nlabel") == F.col("qlabel"), 1).otherwise(0))
            .cast("long")
            .alias("n_relevant"),
            rel_rk.alias("first_rank"),
        )
        .withColumn(
            "reciprocal_rank",
            F.expr("CAST(1000000000 DIV first_rank AS DOUBLE) / 1000000000.0"),
        )
    )


KNN_N_QUERIES = 50
KNN_K = 9


@query(
    "knn_classify",
    oracle=f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS true_label
                   FROM embeddings WHERE vec_id < {KNN_N_QUERIES}),
        c AS (SELECT vec_id AS neighbor_id, embedding, label
              FROM embeddings WHERE vec_id >= {KNN_N_QUERIES}),
        scored AS (
            SELECT q.query_id, q.true_label, c.label,
                   {vectors.cosine_sql("q.qe", "c.embedding")} AS cosine,
                   c.neighbor_id
            FROM q CROSS JOIN c
        ),
        topk AS (
            SELECT query_id, true_label, label FROM (
                SELECT query_id, true_label, label,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id) AS rk
                FROM scored
            ) WHERE rk <= {KNN_K}
        ),
        votes AS (
            SELECT query_id, true_label, label, COUNT(*) AS n_votes
            FROM topk GROUP BY 1, 2, 3
        )
        SELECT query_id, true_label,
               label AS predicted_label,
               CAST(n_votes AS BIGINT) AS votes,
               label = true_label AS correct
        FROM (
            SELECT query_id, true_label, label, n_votes,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY n_votes DESC, label) AS pick
            FROM votes
        ) WHERE pick = 1
    """,
    doc=f"k-NN majority-vote classification (k={KNN_K}): the first "
    f"{KNN_N_QUERIES} vectors are classified by the modal label of "
    "their k nearest labeled neighbors (cosine), ties to the smallest "
    "label — the standard embedding-space label-propagation/eval "
    "primitive (weak-label transfer, probe-set QA). The query set "
    "broadcasts against one shuffle-free candidate scan (the "
    "ann_cosine_topk shape); vote counting and the argmax window "
    "partition by query_id only. The scale path swaps the scan for "
    "IVF probing (ann_ivf_topk) — same vote/argmax tail.",
)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < KNN_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("true_label"),
    )
    c = emb.filter(F.col("vec_id") >= KNN_N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), "embedding", "label"
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "true_label",
        "label",
        vectors.cosine(F.col("qe"), F.col("embedding")).alias("cosine"),
        "neighbor_id",
    )
    wk = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    topk = scored.withColumn("rk", F.row_number().over(wk)).filter(F.col("rk") <= KNN_K)
    votes = topk.groupBy("query_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("n_votes").desc(), F.col("label"))
    return (
        votes.withColumn("pick", F.row_number().over(wp))
        .filter(F.col("pick") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("label").alias("predicted_label"),
            F.col("n_votes").cast("long").alias("votes"),
            (F.col("label") == F.col("true_label")).alias("correct"),
        )
    )


def _ivf_pairs_sql(n_probe: int, prefix: str) -> str:
    """IVF top-k (query_id, neighbor_id) pair CTEs for a given probe
    count, namespaced by ``prefix`` so several probe settings compose
    in one oracle (same chain-composition trick as the k-means/PQ
    oracles)."""
    return f"""
        {prefix}probe AS (
            SELECT query_id, cent_id FROM (
                SELECT q.vec_id AS query_id, c.cent_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY {vectors.dot_sql("q.embedding", "c.cvec")} / nullif(q.nrm * c.cnrm, 0.0)
                                    DESC, c.cent_id) AS pr
                FROM nv q CROSS JOIN cent c
                WHERE q.vec_id < {N_QUERIES}
            ) WHERE pr <= {n_probe}
        ),
        {prefix}pairs AS (
            SELECT query_id, neighbor_id FROM (
                SELECT p.query_id, a.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
                           {vectors.dot_sql("qe.embedding", "ne.embedding")} / nullif(qe.nrm * ne.nrm, 0.0)
                           DESC, a.vec_id) AS rk
                FROM {prefix}probe p
                JOIN assign a ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id
                JOIN nv qe ON qe.vec_id = p.query_id
                JOIN nv ne ON ne.vec_id = a.vec_id
            ) WHERE rk <= {TOP_K}
        )"""


_PROBE_CURVE_SETTINGS = (1, 2, 4)

_PROBE_CURVE_ORACLE = (
    f"""
        WITH nv AS (SELECT vec_id, embedding,
                           {vectors.norm_sql("embedding")} AS nrm
                    FROM embeddings),
        cent AS (SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm
                 FROM nv WHERE vec_id < {N_CENTROIDS}),
        assign AS (
            SELECT vec_id, cent_id FROM (
                SELECT e.vec_id, c.cent_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY {vectors.dot_sql("e.embedding", "c.cvec")} / nullif(e.nrm * c.cnrm, 0.0)
                                    DESC, c.cent_id) AS ar
                FROM nv e CROSS JOIN cent c
            ) WHERE ar = 1
        ),
        bf AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                           {vectors.cosine_sql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rk
                FROM nv q JOIN nv c ON c.vec_id <> q.vec_id
                WHERE q.vec_id < {N_QUERIES}
            ) WHERE rk <= {TOP_K}
        ),"""
    + ",".join(_ivf_pairs_sql(p, f"p{p}_") for p in _PROBE_CURVE_SETTINGS)
    + "\n        "
    + "\n        UNION ALL\n        ".join(
        f"""SELECT {p} AS n_probe,
               CAST((SELECT COUNT(*) FROM bf) AS BIGINT) AS n_exact,
               CAST((SELECT COUNT(*) FROM bf JOIN p{p}_pairs USING (query_id, neighbor_id)) AS BIGINT) AS n_hits,
               CAST((SELECT COUNT(*) FROM bf JOIN p{p}_pairs USING (query_id, neighbor_id)) AS DOUBLE)
                   / nullif((SELECT COUNT(*) FROM bf), 0) AS recall"""
        for p in _PROBE_CURVE_SETTINGS
    )
)


@query(
    "ann_ivf_probe_curve",
    oracle=_PROBE_CURVE_ORACLE,
    doc=f"IVF tuning curve: recall@{TOP_K} vs probe count (nprobe = "
    f"{_PROBE_CURVE_SETTINGS}) against the exact brute-force top-k — "
    "the measurement that tells an operator where to set nprobe before "
    "committing a 100 TB index (recall rises with nprobe while "
    "per-query cost grows linearly; the curve's knee is the budget). "
    "All three searches share ONE cached norm frame and ONE assignment "
    "pass; the oracle composes three namespaced IVF chains plus the "
    "brute-force chain in a single WITH (the k-means/PQ oracle-"
    "composition pattern).",
)
def ann_ivf_probe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    nv = fan_out(
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding", vectors.norm(F.col("embedding")).alias("nrm"))
    ).cache()
    cent = F.broadcast(
        nv.filter(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cvec"),
            F.col("nrm").alias("cnrm"),
        )
    )
    bf = (
        ann_cosine_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .cache()
    )
    # ONE assignment frame shared by all probe settings. NOT cached
    # (tried and measured a small LOSS): the expensive corpus x
    # centroids cosine fold sits BELOW the assignment exchange, so
    # runtime exchange reuse already computes it once across the three
    # searches — the cache only added a materialization job. Sharing
    # the frame keeps the reuse structural rather than relying on
    # canonicalized-subtree matching.
    assign = ivf_assign(nv, cent)
    out = None
    for p in _PROBE_CURVE_SETTINGS:
        ivf = ivf_topk_from_centroids(nv, cent, n_probe=p, assign=assign).select(
            "query_id", "neighbor_id"
        )
        one = (
            bf.join(ivf, ["query_id", "neighbor_id"], "left_semi")
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .select(
                F.lit(p).alias("n_probe"),
                F.lit(None).cast("long").alias("n_exact"),  # filled below
                F.col("n_hits").cast("long"),
            )
        )
        out = one if out is None else out.unionByName(one)
    n_exact = bf.count()
    return out.select(
        "n_probe",
        F.lit(n_exact).cast("long").alias("n_exact"),
        "n_hits",
        (
            F.col("n_hits").cast("double")
            / F.nullif(F.lit(float(n_exact)), F.lit(0.0))
        ).alias("recall"),
    )


# --- MMR diverse re-ranking -------------------------------------------------
#
# Maximal Marginal Relevance (Carbonell & Goldstein 1998): greedily pick
# k results maximizing lambda*rel(c) - (1-lambda)*max_sim(c, selected) —
# the standard RAG/retrieval de-redundancy step after ANN. The greedy
# loop is inherently sequential in k but embarrassingly parallel across
# queries: each step is one join + one window over the TINY candidate
# frame (N_QUERIES x TOP_K rows), so the sequential part never touches
# the corpus. lambda = 0.5 keeps every score an exact IEEE expression
# (halving + subtraction of exact values), so the unrolled SQL oracle
# reproduces the greedy chain bit-for-bit.

MMR_STEPS = 3


def _mmr_psim_sql() -> str:
    return f"""
        cand AS (
            SELECT query_id, neighbor_id, cosine FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       {vectors.cosine_sql("q.embedding", "c.embedding")} AS cosine,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                           {vectors.cosine_sql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rk
                FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
                WHERE q.vec_id < {N_QUERIES}
            ) WHERE rk <= {TOP_K}
        ),
        psim AS (
            SELECT a.query_id, a.neighbor_id AS ca, b.neighbor_id AS cb,
                   {vectors.cosine_sql("ea.embedding", "eb.embedding")} AS sim
            FROM cand a
            JOIN cand b ON b.query_id = a.query_id AND b.neighbor_id <> a.neighbor_id
            JOIN embeddings ea ON ea.vec_id = a.neighbor_id
            JOIN embeddings eb ON eb.vec_id = b.neighbor_id
        )"""


def _mmr_oracle() -> str:
    steps = ["""
        s1 AS (
            SELECT query_id, neighbor_id, 1 AS step, cosine AS score FROM (
                SELECT query_id, neighbor_id, cosine,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id) AS rk
                FROM cand
            ) WHERE rk = 1
        )"""]
    for i in range(2, MMR_STEPS + 1):
        prev_union = " UNION ALL ".join(
            f"SELECT query_id, neighbor_id FROM s{j}" for j in range(1, i)
        )
        steps.append(f"""
        sel{i} AS ({prev_union}),
        r{i} AS (
            SELECT c.query_id, c.neighbor_id,
                   0.5 * c.cosine - 0.5 * MAX(p.sim) AS score
            FROM cand c
            JOIN sel{i} s ON s.query_id = c.query_id
            JOIN psim p ON p.query_id = c.query_id
                       AND p.ca = c.neighbor_id AND p.cb = s.neighbor_id
            WHERE NOT EXISTS (
                SELECT 1 FROM sel{i} x
                WHERE x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id)
            GROUP BY c.query_id, c.neighbor_id, c.cosine
        ),
        s{i} AS (
            SELECT query_id, neighbor_id, {i} AS step, score FROM (
                SELECT query_id, neighbor_id, score,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY score DESC, neighbor_id) AS rk
                FROM r{i}
            ) WHERE rk = 1
        )""")
    final = " UNION ALL ".join(
        f"SELECT query_id, neighbor_id, CAST(step AS INTEGER) AS step, score FROM s{j}"
        for j in range(1, MMR_STEPS + 1)
    )
    return "WITH " + _mmr_psim_sql() + "," + ",".join(steps) + "\n" + final


@query(
    "ann_mmr_rerank",
    oracle=_mmr_oracle(),
    doc=f"MMR diverse re-ranking (Carbonell-Goldstein maximal marginal "
    f"relevance, lambda=0.5) of each query's brute-force top-{TOP_K}: "
    f"{MMR_STEPS} greedy steps, each picking the candidate maximizing "
    "0.5*relevance - 0.5*max-similarity-to-already-selected — the "
    "de-redundancy pass RAG retrieval runs after ANN. Sequential only "
    "in k: every step is a join + window over the tiny candidate "
    "frame (queries x top-k rows), parallel across queries, corpus "
    "untouched after candidate generation. The oracle unrolls the "
    "greedy chain; halved scores stay IEEE-exact so both engines pick "
    "identical argmaxes.",
)
def ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id", "cosine").cache()
    emb = load_table(spark, sf_dir, "embeddings")
    ea = emb.select(F.col("vec_id").alias("ca"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("cb"), F.col("embedding").alias("eb"))
    psim = (
        cand.alias("a")
        .join(
            cand.alias("b"),
            (F.col("b.query_id") == F.col("a.query_id"))
            & (F.col("b.neighbor_id") != F.col("a.neighbor_id")),
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.neighbor_id").alias("ca"),
            F.col("b.neighbor_id").alias("cb"),
        )
        .join(ea, "ca")
        .join(eb, "cb")
        .select(
            F.col("query_id").alias("p_qid"),
            "ca",
            "cb",
            vectors.cosine(F.col("ea"), F.col("eb")).alias("sim"),
        )
        .cache()
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "neighbor_id")
    selected = (
        cand.withColumn("score", F.col("cosine"))
        .select("*", F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
        ).alias("rk"))
        .filter(F.col("rk") == 1)
        .select("query_id", "neighbor_id", F.lit(1).alias("step"), F.col("cosine").alias("score"))
    )
    for i in range(2, MMR_STEPS + 1):
        sel = selected.select(
            F.col("query_id").alias("s_qid"), F.col("neighbor_id").alias("sel_id")
        )
        rem = cand.join(
            sel,
            (F.col("s_qid") == F.col("query_id"))
            & (F.col("sel_id") == F.col("neighbor_id")),
            "left_anti",
        )
        scored = (
            rem.join(
                psim,
                (F.col("p_qid") == F.col("query_id"))
                & (F.col("ca") == F.col("neighbor_id")),
            )
            .join(
                sel,
                (F.col("s_qid") == F.col("query_id"))
                & (F.col("sel_id") == F.col("cb")),
                "left_semi",
            )
            .groupBy("query_id", "neighbor_id", "cosine")
            .agg(F.max("sim").alias("max_sim"))
            .select(
                "query_id",
                "neighbor_id",
                (0.5 * F.col("cosine") - 0.5 * F.col("max_sim")).alias("score"),
            )
        )
        nxt = (
            scored.select("*", F.row_number().over(w).alias("rk"))
            .filter(F.col("rk") == 1)
            .select("query_id", "neighbor_id", F.lit(i).alias("step"), "score")
            # Truncate lineage per greedy step: `selected` is referenced
            # TWICE inside the next step (anti-join exclusion + semi-join
            # pair filter), so the lazy chain DOUBLES per step (measured
            # 27 stages / 740 tasks at sf0.001 for 3 steps). Eager
            # checkpoint of the one-row-per-query pick keeps the plan
            # linear in steps; cand/psim stay cached underneath (the
            # graph-loop lesson, guide §1.2/§5).
            .localCheckpoint(eager=True)
        )
        selected = selected.unionByName(nxt)
    return selected.select("query_id", "neighbor_id", F.col("step").cast("int"), "score")


# --- Filtered vector search -------------------------------------------------
#
# Production retrieval is almost never "top-k over everything": the query
# carries a metadata predicate (tenant, language, label, date range) and the
# index must apply it. Two strategies exist; both are implemented and
# oracled so their trade-off is measurable:
#
# - PRE-FILTER (ann_filtered_topk): apply the predicate to the candidate
#   scan BEFORE scoring. Exact under the filter; cost = one pass over the
#   selectivity-reduced corpus. The right choice when the predicate is
#   selective enough that the filtered scan is cheap — and on Spark the
#   predicate is pushed into the parquet scan (PushedFilters), so the
#   non-matching rows are never decoded.
# - IVF PRE-FILTER (ann_ivf_filtered_topk): push the same predicate into
#   the probed inverted lists — candidates must match BOTH the coarse
#   quantizer (probed cent_id) and the predicate before any exact dot is
#   computed. This is how Faiss/Vespa-style engines do filtered ANN; the
#   known failure mode (recall collapses when the filter is so selective
#   that probed lists are emptied) is observable here by comparing the two
#   entries' outputs.


@query(
    "ann_filtered_topk",
    oracle=f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS qlabel
                   FROM embeddings WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   {vectors.cosine_sql("q.qe", "c.embedding")} AS cosine
            FROM q JOIN embeddings c
              ON c.label = q.qlabel AND c.vec_id <> q.query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cosine,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rk
            FROM scored
        )
        SELECT query_id, neighbor_id, cosine, rk FROM ranked WHERE rk <= {TOP_K}
    """,
    doc=f"Metadata-filtered exact top-{TOP_K}: each query only retrieves "
    "neighbors sharing its label (the tenant/language/ACL predicate of "
    "production retrieval). Pre-filter strategy: the predicate is part "
    "of the broadcast-join condition, so non-matching candidates are "
    "dropped BEFORE any dot product is computed — scoring cost is "
    "selectivity x corpus. (When every query shares one predicate "
    "value, push it into the scan filter instead and it prunes parquet "
    "row groups too.)",
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("label").alias("qlabel"),
        )
    )
    scored = q.join(
        emb,
        (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        vectors.cosine(F.col("qe"), F.col("embedding")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", "cosine", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= TOP_K)
    )


@query(
    "ann_ivf_filtered_topk",
    oracle=f"""
        WITH nv AS (SELECT vec_id, embedding, label,
                           {vectors.norm_sql("embedding")} AS nrm
                    FROM embeddings),
        cent AS (SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm
                 FROM nv WHERE vec_id < {N_CENTROIDS}),
        assign AS (
            SELECT vec_id, label, cent_id FROM (
                SELECT e.vec_id, e.label, c.cent_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY {vectors.dot_sql("e.embedding", "c.cvec")} / nullif(e.nrm * c.cnrm, 0.0)
                                    DESC, c.cent_id) AS ar
                FROM nv e CROSS JOIN cent c
            ) WHERE ar = 1
        ),
        probe AS (
            SELECT query_id, qlabel, cent_id FROM (
                SELECT q.vec_id AS query_id, q.label AS qlabel, c.cent_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY {vectors.dot_sql("q.embedding", "c.cvec")} / nullif(q.nrm * c.cnrm, 0.0)
                                    DESC, c.cent_id) AS pr
                FROM nv q CROSS JOIN cent c
                WHERE q.vec_id < {N_QUERIES}
            ) WHERE pr <= {N_PROBE}
        ),
        scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   {vectors.dot_sql("qe.embedding", "ne.embedding")} / nullif(qe.nrm * ne.nrm, 0.0)
                       AS cosine
            FROM probe p
            JOIN assign a ON a.cent_id = p.cent_id
                         AND a.label = p.qlabel
                         AND a.vec_id <> p.query_id
            JOIN nv qe ON qe.vec_id = p.query_id
            JOIN nv ne ON ne.vec_id = a.vec_id
        )
        SELECT query_id, neighbor_id, cosine, rk FROM (
            SELECT query_id, neighbor_id, cosine,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rk
            FROM scored
        ) WHERE rk <= {TOP_K}
    """,
    doc=f"Filtered IVF ANN top-{TOP_K}: the label predicate is applied to "
    "the probed inverted lists BEFORE any exact dot product — a candidate "
    "must match both the coarse quantizer (probed cent_id) and the "
    "predicate to be scored. Per-query work is selectivity x nprobe/"
    f"ncentroids of the corpus. Compare against ann_filtered_topk to "
    "measure the recall cost of probing under a filter (over-selective "
    "filters empty the probed lists — the known filtered-ANN hazard).",
)
def ann_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    nv = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding", "label", vectors.norm(F.col("embedding")).alias("nrm"))
        .cache()
    )
    cent = F.broadcast(
        nv.filter(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cvec"),
            F.col("nrm").alias("cnrm"),
        )
    )
    cos_c = vectors.dot(F.col("embedding"), F.col("cvec")) / F.nullif(
        F.col("nrm") * F.col("cnrm"), F.lit(0.0)
    )
    aw = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("cent_id"))
    assign = (
        nv.join(cent)
        .select("vec_id", "label", "cent_id", cos_c.alias("ccos"))
        .select("*", F.row_number().over(aw).alias("ar"))
        .filter(F.col("ar") == 1)
        .select("vec_id", "label", "cent_id")
    )
    probe = (
        nv.filter(F.col("vec_id") < N_QUERIES)
        .join(cent)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("qlabel"),
            "cent_id",
            cos_c.alias("ccos"),
        )
        .select(
            "*",
            F.row_number()
            .over(Window.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("cent_id")))
            .alias("pr"),
        )
        .filter(F.col("pr") <= N_PROBE)
        .select("query_id", "qlabel", "cent_id")
    )
    # The predicate lands HERE — before the embedding fetch and the exact
    # dot. Candidates failing the filter never reach the scoring join.
    cand = (
        F.broadcast(probe)
        .join(assign, "cent_id")
        .filter((F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", "vec_id")
    )
    cos_pair = vectors.dot(F.col("qe"), F.col("ne")) / F.nullif(
        F.col("qn") * F.col("nn"), F.lit(0.0)
    )
    scored = (
        cand.join(
            nv.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qe"),
                F.col("nrm").alias("qn"),
            ),
            "query_id",
        )
        .join(
            nv.select(
                "vec_id",
                F.col("embedding").alias("ne"),
                F.col("nrm").alias("nn"),
            ),
            "vec_id",
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos_pair.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", "cosine", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= TOP_K)
    )


@query(
    "ann_filtered_recall",
    oracle=f"""
        WITH bf AS ({{BF}}),
        ivf AS ({{IVF}})
        SELECT bf.query_id,
               COUNT(ivf.neighbor_id) AS n_hits,
               CAST(COUNT(ivf.neighbor_id) AS DOUBLE) / {TOP_K} AS recall_at_k
        FROM bf LEFT JOIN ivf
          ON ivf.query_id = bf.query_id AND ivf.neighbor_id = bf.neighbor_id
        GROUP BY bf.query_id
    """.replace("{BF}", _REG["ann_filtered_topk"].oracle).replace(
        "{IVF}", _REG["ann_ivf_filtered_topk"].oracle
    ),
    doc=f"Recall@{TOP_K} of filtered-IVF against the exact filtered "
    "brute force, per query — quantifies the known filtered-ANN hazard "
    "(a selective predicate empties probed lists and recall collapses) "
    "instead of assuming it away. Same meta-query shape as "
    "ann_ivf_recall.",
)
def ann_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    bf = ann_filtered_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = ann_ivf_filtered_topk(spark, sf_dir).select(
        F.col("query_id").alias("i_query"), F.col("neighbor_id").alias("i_neighbor")
    )
    return (
        bf.join(
            ivf,
            (F.col("i_query") == F.col("query_id"))
            & (F.col("i_neighbor") == F.col("neighbor_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("i_neighbor").alias("n_hits"),
            (F.count("i_neighbor").cast("double") / TOP_K).alias("recall_at_k"),
        )
    )
