"""SemDeDup — semantic deduplication via k-means-bucketed cosine.

Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale
through semantic deduplication"): cluster the embedding space with
k-means, then look for near-duplicates ONLY inside each cluster — the
clustering bounds the otherwise-quadratic pair expansion, which is
exactly what makes embedding-level dedup feasible at 100 TB. This is
the semantic-space sibling of the MinHash/SimHash LSH pipelines in
operators/dedup.py (token space) and the hyperplane-LSH near-dup in
operators/similarity.py (random projections): here the buckets are
LEARNED, so semantically-close pairs that random projections can split
across buckets stay together.

Composition: reuses the deterministic integer-exact k-means trainer
(operators/kmeans.py — quantized vectors, int64 distance/centroid
arithmetic, first-min tie-breaks) so the DuckDB oracle can replay
training, assignment, the intra-cluster pair join, and the keep-flag
bit-for-bit. Keep rule (deterministic representative selection): a
vector is dropped iff some SAME-CLUSTER vector with a smaller vec_id
is cosine-similar above the threshold — i.e. each near-dup group keeps
its lowest id, matching dedup_exact/minhash conventions.

Scale shape: one shuffle on vec_id (assignment ⋈ embeddings — co-
partitioned at 100 TB if both are bucketed by vec_id), one shuffle on
cluster for the pair join. k grows with corpus size (k ≈ N/〈cluster
size〉), so per-cluster work stays bounded and no cluster is global
state; the quadratic term is 〈cluster size〉² per cluster, tuned by k —
the SemDeDup paper's own knob. No driver collects beyond the trainer's
bounded k*dim centroid rows.

No reference analogue (the reference has no ML surface; SURVEY §2.4
absent list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minispark_spark.functions import vectors
from minispark_spark.operators.kmeans import DIM, _centroid_chain, kmeans_fit_predict
from minispark_spark.registry import query
from minispark_spark.sources.tables import load_table

K = 8
N_ITERS = 2
SEMDEDUP_COSINE = 0.35  # same demo threshold as embedding_near_dup


def _oracle() -> str:
    chain, prev = _centroid_chain(K, N_ITERS)
    dims = f"range(1, {DIM + 1})"
    cos = vectors.cosine_sql("ea.embedding", "eb.embedding")
    return chain + f"""
        , asg AS (
            SELECT vec_id, cl FROM (
                SELECT q.vec_id, {prev}.cl,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                           list_sum(list_transform({dims},
                               i -> (q.q[i] - {prev}.c[i]) * (q.q[i] - {prev}.c[i]))),
                           {prev}.cl) AS rn
                FROM q CROSS JOIN {prev}
            ) WHERE rn = 1
        ),
        e AS (SELECT vec_id, embedding FROM embeddings),
        dup AS (
            SELECT DISTINCT b.vec_id
            FROM asg a
            JOIN asg b ON a.cl = b.cl AND a.vec_id < b.vec_id
            JOIN e ea ON ea.vec_id = a.vec_id
            JOIN e eb ON eb.vec_id = b.vec_id
            WHERE {cos} >= {SEMDEDUP_COSINE}
        )
        SELECT asg.vec_id,
               CAST(asg.cl AS INTEGER) AS cluster,
               dup.vec_id IS NULL AS keep
        FROM asg LEFT JOIN dup ON asg.vec_id = dup.vec_id
    """


@query(
    "semantic_dedup",
    oracle=_oracle(),
    doc=f"SemDeDup (Abbas et al. 2023): k-means-bucketed semantic "
    f"near-dup removal. Deterministic k-means (k={K}, {N_ITERS} Lloyd "
    f"rounds, integer-exact) assigns every embedding to a cluster; "
    f"pairs are examined ONLY within a cluster (bounding the quadratic "
    f"blowup — the scale knob is k), and a vector is dropped iff a "
    f"lower-id same-cluster vector is cosine >= {SEMDEDUP_COSINE} "
    "similar, keeping one representative per semantic group. One "
    "shuffle on vec_id + one on cluster; oracle replays training, "
    "assignment, and the pair join bit-for-bit.",
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return semantic_dup_flags(spark, emb, sf_dir=sf_dir)


# Refuse-loudly bound on the within-cluster pair join. SemDeDup's
# quadratic term is sum over clusters of n_c*(n_c-1)/2; the paper's
# contract (and this module's docs) is that k GROWS with the corpus so
# that term stays bounded. A fixed small k on a huge/replica-dense
# corpus silently plans a multi-hour join — found in round 7 when the
# k=2 sweep met a 200k exact-replica corpus: ~10^10 pairs, effectively
# a hang. Checking the bound costs one k-row aggregate over the
# (already materialized) assignment; breach raises with the remedy
# instead of running. The default clears every gate corpus (sf0.001-
# 0.1 and the 20k-vector 10x ledger runs, max ~10^8 pairs) with 10x
# headroom. The same tier pattern as the simhash/embedding-LSH
# oversized-bucket guards.
SEMDEDUP_MAX_PAIRS = 1_000_000_000


def semantic_dup_flags(
    spark: SparkSession,
    emb: DataFrame,
    k: int = K,
    n_iters: int = N_ITERS,
    threshold: float = SEMDEDUP_COSINE,
    sf_dir: str | None = None,
    max_pairs: int | None = SEMDEDUP_MAX_PAIRS,
) -> DataFrame:
    """(vec_id, cluster, keep) for any (vec_id, embedding array<float>)
    frame — the SemDeDup core behind the registry query. Passing
    ``sf_dir`` (when ``emb`` IS the table) routes through the memoized
    table-backed trainer, sharing the k-means fit with ann_ivfpq_*.
    ``max_pairs`` bounds the within-cluster pair join (None disables);
    a breach raises rather than planning a quadratic blowup."""
    assign, dups = _dup_components(spark, emb, k, n_iters, threshold, sf_dir, max_pairs)
    return assign.join(
        dups.withColumn("dup", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id",
        "cluster",
        F.coalesce(F.col("dup"), F.lit(False)).alias("is_dup"),
    ).select("vec_id", "cluster", (~F.col("is_dup")).alias("keep"))


def _dups_from_assign(
    assign: DataFrame, emb: DataFrame, threshold: float, k: int
) -> DataFrame:
    """Distinct dup vec_ids of a (vec_id, cluster) assignment: the
    within-cluster pair join at the heart of SemDeDup.

    Norms once per VECTOR (batched), then one batched dot per PAIR —
    the interpreted HOF fold at 64 lambda evals per pair dominates
    the within-cluster join otherwise (same fix as the LSH verifier,
    operators/similarity.py; dot_batched is bit-identical to the
    fold, so the DuckDB oracle still matches exactly).

    BLOCK-PAIR kernel (round 8; guide §2.3/§2.5/§8): the pair-join
    spelling materialized BOTH embeddings on every pair row and shipped
    them through the Python boundary — ~1M x 2 x 256 B of vector bytes
    per curve point at sf0.1, with the cluster-id join key capping the
    shuffle at k reduce tasks (the k=2 point ran ~2-wide on 32 cores).
    Instead, split each cluster into B deterministic blocks
    (pmod(vec_id, B)) and fan each unordered BLOCK pair (bx <= by) out
    as its own group: every vector crosses the shuffle/Python boundary
    B times (not once per pair), and parallelism is k*B*(B+1)/2
    regardless of k. B is SCALE-ADAPTIVE: the smallest B with
    k*B*(B+1)/2 >= parallelism, so B -> 1 (no replication — exactly the
    old per-cluster grouping) once k >= the core count, which is
    SemDeDup's own contract (k grows with the corpus). The kernel
    computes the identical IEEE ops batched: products ea*eb, the same
    strict left-to-right np.add.accumulate fold dot_batched uses, one
    divide by (na*nb), one >= compare — float multiply is exactly
    commutative, so pair orientation cannot perturb bits, and a zero
    denominator is excluded (the old NULL-cosine drop)."""
    import numpy as np
    import pandas as pd

    par = assign.sparkSession.sparkContext.defaultParallelism
    b_blocks = 1
    while k * b_blocks * (b_blocks + 1) // 2 < par:
        b_blocks += 1
    members = assign.join(emb, "vec_id").select(
        "vec_id",
        "cluster",
        "embedding",
        F.sqrt(vectors.dot_batched(F.col("embedding"), F.col("embedding"))).alias("nrm"),
        F.pmod(F.col("vec_id"), F.lit(b_blocks)).cast("int").alias("blk"),
    )
    # Each member row fans out to every block pair it participates in:
    # (blk, blk) as the diagonal, (blk, y>blk) as the LEFT side, and
    # (x<blk, blk) as the RIGHT side — B rows per member in total.
    empty_int = F.array().cast("array<int>")
    up = F.when(
        F.col("blk") < F.lit(b_blocks - 1),
        F.sequence(F.col("blk") + 1, F.lit(b_blocks - 1)),
    ).otherwise(empty_int)
    down = F.when(
        F.col("blk") > 0, F.sequence(F.lit(0), F.col("blk") - 1)
    ).otherwise(empty_int)
    fan = members.select(
        "vec_id",
        "cluster",
        "embedding",
        "nrm",
        F.explode(
            F.concat(
                F.array(F.struct(F.col("blk").alias("bx"), F.col("blk").alias("by"))),
                F.transform(
                    up, lambda y: F.struct(F.col("blk").alias("bx"), y.alias("by"))
                ),
                F.transform(
                    down, lambda x: F.struct(x.alias("bx"), F.col("blk").alias("by"))
                ),
            )
        ).alias("bp"),
    ).select("vec_id", "cluster", "embedding", "nrm", "bp.bx", "bp.by")

    thr = float(threshold)
    _empty = lambda: pd.DataFrame({"vec_id": pd.Series([], dtype="int64")})  # noqa: E731

    def emit(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return _empty()
        bx, by = key[1], key[2]
        ids = pdf["vec_id"].to_numpy()
        E = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        nr = pdf["nrm"].to_numpy(dtype=np.float64)
        if bx == by:
            n = len(ids)
            if n < 2:
                return _empty()
            ii, jj = np.triu_indices(n, 1)
        else:
            lm = (ids % b_blocks) == bx
            li = np.nonzero(lm)[0]
            ri = np.nonzero(~lm)[0]
            if not len(li) or not len(ri):
                return _empty()
            ii = np.repeat(li, len(ri))
            jj = np.tile(ri, len(li))
        out = []
        for lo in range(0, len(ii), 1 << 16):  # bound the (pairs, DIM)
            ci, cj = ii[lo : lo + (1 << 16)], jj[lo : lo + (1 << 16)]
            # identical IEEE sequence to dot_batched: elementwise
            # products, strict left-to-right accumulate, last element
            num = np.add.accumulate(E[ci] * E[cj], axis=1)[:, -1]
            den = nr[ci] * nr[cj]
            ok = den != 0.0
            dup = np.nonzero((num[ok] / den[ok]) >= thr)[0]
            if len(dup):
                out.append(np.maximum(ids[ci[ok][dup]], ids[cj[ok][dup]]))
        if not out:
            return _empty()
        return pd.DataFrame({"vec_id": np.concatenate(out)})

    return (
        fan.groupBy("cluster", "bx", "by")
        .applyInPandas(emit, schema="vec_id long")
        .distinct()
    )


def _budget_error(k: int, budget: int, max_pairs: int) -> ValueError:
    return ValueError(
        f"semantic_dup_flags: k={k} puts {budget:,} intra-cluster "
        f"pairs in the join (> budget {max_pairs:,}); grow k with "
        "the corpus (SemDeDup's scale knob — see "
        "semantic_dedup_k_curve) or raise max_pairs explicitly"
    )


def _dup_components(
    spark: SparkSession,
    emb: DataFrame,
    k: int,
    n_iters: int,
    threshold: float,
    sf_dir: str | None,
    max_pairs: int | None,
) -> tuple[DataFrame, DataFrame]:
    """(cached assignment, distinct dup vec_ids) — the two frames every
    SemDeDup consumer composes from. The assignment is CACHED: one
    narrow (vec_id, cluster) row per vector, and the downstream plan
    reads it repeatedly (budget aggregate, both sides of the pair join,
    the final keep join) — uncached, each read re-ran the Arrow
    assignment pass over the corpus (guide §5 multi-action reuse; the
    budget collect doubles as the materializing action)."""
    if sf_dir is not None:
        assign = kmeans_fit_predict(spark, sf_dir, k, n_iters)
    else:
        assign = kmeans_fit_predict(spark, "", k, n_iters, emb=emb)
    assign = assign.cache()
    if max_pairs is not None:
        budget = assign.groupBy("cluster").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ).agg(
            F.coalesce(
                F.sum(F.expr("n * (n - 1) DIV 2")), F.lit(0).cast("long")
            ).alias("pairs")
        ).collect()[0]["pairs"]
        if budget > max_pairs:
            raise _budget_error(k, budget, max_pairs)
    return assign, _dups_from_assign(assign, emb, threshold, k)


# --- The SemDeDup scale knob, measured -----------------------------------

K_CURVE = (2, 8, 32)


def _k_curve_oracle() -> str:
    dims = f"range(1, {DIM + 1})"
    cos = vectors.cosine_sql("ea.embedding", "eb.embedding")
    parts, selects = [], []
    for j, k in enumerate(K_CURVE):
        chain, prev = _centroid_chain(k, N_ITERS, prefix=f"k{j}_", with_q=(j == 0))
        parts.append(chain)
        parts.append(f"""
        , k{j}_asg AS (
            SELECT vec_id, cl FROM (
                SELECT q.vec_id, {prev}.cl,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                           list_sum(list_transform({dims},
                               i -> (q.q[i] - {prev}.c[i]) * (q.q[i] - {prev}.c[i]))),
                           {prev}.cl) AS rn
                FROM q CROSS JOIN {prev}
            ) WHERE rn = 1
        )
        , k{j}_pairs AS (
            SELECT COALESCE(SUM(n * (n - 1) // 2), 0) AS pairs_examined,
                   COUNT(*) AS clusters_used
            FROM (SELECT cl, COUNT(*) AS n FROM k{j}_asg GROUP BY cl)
        )
        , k{j}_dups AS (
            SELECT COUNT(DISTINCT b.vec_id) AS n_dups
            FROM k{j}_asg a
            JOIN k{j}_asg b ON a.cl = b.cl AND a.vec_id < b.vec_id
            JOIN embeddings ea ON ea.vec_id = a.vec_id
            JOIN embeddings eb ON eb.vec_id = b.vec_id
            WHERE {cos} >= {SEMDEDUP_COSINE}
        )""")
        selects.append(f"""
        SELECT CAST({k} AS BIGINT) AS k,
               CAST(p.clusters_used AS BIGINT) AS clusters_used,
               CAST(p.pairs_examined AS BIGINT) AS pairs_examined,
               CAST(d.n_dups AS BIGINT) AS n_dups
        FROM k{j}_pairs p CROSS JOIN k{j}_dups d""")
    return "".join(parts) + " UNION ALL ".join(selects)


@query(
    "semantic_dedup_k_curve",
    oracle=_k_curve_oracle(),
    doc="The SemDeDup scale knob, MEASURED (the banding-tradeoff pattern "
    "applied to learned buckets): for k in "
    f"{K_CURVE}, train the same deterministic k-means and report "
    "clusters actually used, intra-cluster pairs examined (the "
    "quadratic term the paper tunes with k: sum n_c*(n_c-1)/2), and "
    "near-dups found at the production threshold. Larger k divides "
    "the pair budget roughly by k but can split true semantic groups "
    "across clusters — this curve is the evidence for choosing k at a "
    "given corpus size instead of asserting it. Per-k cost: one "
    "memoized training + one bounded-cluster pair join; the three "
    "trainings share one quantized-corpus scan via the fit cache.",
)
def semantic_dedup_k_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from minispark_spark.operators.kmeans import kmeans_assign_multi

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # FUSED trainings (round 8, VERDICT item #1): the three ks train in
    # one scan per Lloyd round (kmeans_fit_multi — bit-identical integer
    # sums per k) and assign in ONE Arrow pass, instead of three
    # sequential trainings + three assignment passes over the same
    # cached corpus. (A ThreadPoolExecutor overlap of the three ks was
    # tried in round 7 and REVERTED — on local[N] the trainings' Lloyd
    # barriers contend for the same cores; fusing the scans removes the
    # redundancy without concurrency.)
    multi = kmeans_assign_multi(spark, sf_dir, K_CURVE, N_ITERS).cache()
    # ONE bounded collect serves every per-k metric: the joint cluster-
    # size table has at most prod(K_CURVE) rows (512 here), from which
    # each k's per-cluster counts — and so clusters_used, the exact
    # integer pairs_examined = sum n*(n-1)//2, and the pair-budget
    # guard — derive exactly (the same integers the old per-k
    # aggregates computed; this also materializes the cached
    # multi-assignment for the pair joins below).
    joint = (
        multi.groupBy(*[f"c{j}" for j in range(len(K_CURVE))])
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    )
    rows = []
    for j, k in enumerate(K_CURVE):
        sizes: dict[int, int] = {}
        for r in joint:
            sizes[r[f"c{j}"]] = sizes.get(r[f"c{j}"], 0) + r["n"]
        pairs_examined = sum(n * (n - 1) // 2 for n in sizes.values())
        if pairs_examined > SEMDEDUP_MAX_PAIRS:
            raise _budget_error(k, pairs_examined, SEMDEDUP_MAX_PAIRS)
        assign = multi.select("vec_id", F.col(f"c{j}").alias("cluster"))
        dups = _dups_from_assign(assign, emb, SEMDEDUP_COSINE, k).agg(
            F.count(F.lit(1)).cast("long").alias("n_dups")
        )
        rows.append(
            dups.select(
                F.lit(k).cast("long").alias("k"),
                F.lit(len(sizes)).cast("long").alias("clusters_used"),
                F.lit(pairs_examined).cast("long").alias("pairs_examined"),
                F.col("n_dups"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), rows)
