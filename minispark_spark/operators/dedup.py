"""Deduplication operators over the documents table.

Three tiers, each the idiomatic Spark shape for its scale:

- **Exact** — hash-groupBy on the text (or its fingerprint). One
  shuffle on the dedup key; at 100 TB, group on ``xxhash64(text)``
  first so the shuffle moves 8-byte keys, not document bodies.
- **n-gram Jaccard** — exact set-similarity via shingle inverted
  index: explode distinct shingles, self-join on shingle, count
  intersections. Quadratic in cluster size — correct but only viable
  below ~10M docs; it is the verifier/oracle for MinHash.
- **MinHash + LSH** — the scale path: k=16 signature / 4 bands × 4
  rows. Per-doc signature is ONE groupBy over exploded shingles (k
  mins computed simultaneously); banding buckets candidates so the
  join touches only probable pairs; true Jaccard verifies candidates.
  At 100 TB: signature pass is linear + one shuffle on doc_id;
  bucket join shuffles on (band, bucket-hash) — skew-guarded by AQE.

All hashes are the cross-engine polynomial hash (functions/hashing.py)
so DuckDB oracles reproduce results bit-for-bit; swap in xxhash64 for
production speed (same plan shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from minispark_spark.functions import hashing, pairs, text
from minispark_spark.registry import query, shared
from minispark_spark.sources.tables import load_table

N_PERMS = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERMS // N_BANDS
JACCARD_THRESHOLD = 0.8

SIMHASH_BITS = 63  # positive BIGINT signature; bits from affine-mod tests
SIMHASH_BANDS = 7  # 7 bands x 9 bits: any pair with hamming <= 6 shares a band
SIMHASH_BAND_BITS = 9
HAMMING_MAX = 4
_SIMHASH_T = hashing.MOD // 2
# Independent balanced bit functions f_j(sh) = (sh*A_j + B_j) % P < P/2.
# The shingle hash itself has only ~30 usable bits (values < P ~ 2^30),
# so bit j of sh directly would leave bits 30..62 constant.
_SIMHASH_AB = [
    ((2_654_435_761 * (j + 13)) % hashing.MOD | 1, (40_503 * (j + 29) ** 2) % hashing.MOD)
    for j in range(SIMHASH_BITS)
]


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle_hash) — distinct word-3-gram shingle hashes,
    CACHED once per (session, sf_dir) and shared across the whole dedup
    family: minhash, simhash, and n-gram Jaccard all start from this
    frame, so computing it once turns three shingle passes into one —
    the curated-intermediate reuse a production pipeline would do.

    One vectorized Arrow pass (shingled_docs), then CACHED PARTITIONED
    BY doc_id: every family consumer's first step is a per-doc
    aggregate (signatures, sizes, sorted arrays), and hash(doc_id)
    partitioning makes all of them exchange-free — the round-7 window
    pipeline left exactly this partitioning behind as a side effect,
    and dropping it (first cut of the round-8 kernel) measurably slowed
    every consumer despite the cheaper build.
    """

    def build() -> DataFrame:
        # Repartition to all cores first: the token-hash kernel is the
        # narrow heavy step and the parquet source may arrive in few splits.
        docs = load_table(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism
        )
        return shingled_docs(docs).repartition("doc_id").cache()

    return shared(spark, ("shingles", sf_dir), build)


def shingled_docs(docs: DataFrame) -> DataFrame:
    """DataFrame-input variant of ``_shingled`` (same result; callers
    that already hold a filtered/projected docs frame — e.g. the
    streaming near-dup index builder — start here).

    ONE vectorized Arrow pass (round 8, guide §4.2): tokenize, hash,
    combine, and per-doc dedup inside numpy instead of posexplode +
    per-character HOF fold + window lead + DISTINCT — the old shape
    paid ~1 us per interpreted lambda eval per CHARACTER plus a shuffle
    for the window and another for the distinct; this one is
    shuffle-FREE (each doc owns its shingles, np.unique dedups per
    doc). Bit-exactness: the tokenizer replicates
    split(trim(text), '\\s+') with Java semantics exactly — trim strips
    0x20 only, the split keeps leading/trailing empty tokens (Python
    re.split agrees), \\s is the ASCII class — and the fold is the same
    (acc*31 + codepoint) % P per character / (h1*B + h2) % P * B + h3
    integer arithmetic in int64, far from overflow. Pinned against the
    old expression by tests/test_shingle_kernel.py; every dedup-family
    oracle replays the same math in DuckDB."""

    def batches(it):  # type: ignore[no-untyped-def]
        import re

        import numpy as np
        import pandas as pd

        ws = re.compile("[ \t\n\x0b\f\r]+")  # Java \s, exactly
        b, p = hashing.COMBINE_BASE, hashing.MOD
        for pdf in it:
            ids_out: list = []
            sh_out: list = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = ws.split((text or "").strip(" "))
                if len(toks) < 3:
                    continue
                # Explicit little-endian UCS-4 on both sides, so the
                # view reads code points on any host byte order.
                arr = np.array(toks, dtype="<U")
                n = len(toks)
                codes = arr.view("<u4").reshape(n, -1).astype(np.int64)
                lens = np.fromiter((len(t) for t in toks), np.int64, n)
                acc = np.zeros(n, np.int64)
                for j in range(codes.shape[1]):
                    m = lens > j
                    if not m.any():
                        break
                    acc = np.where(m, (acc * 31 + codes[:, j]) % p, acc)
                sh = ((acc[:-2] * b + acc[1:-1]) % p * b + acc[2:]) % p
                u = np.unique(sh)
                ids_out.append(np.full(u.size, doc_id, np.int64))
                sh_out.append(u)
            if not ids_out:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series([], dtype="int64"),
                        "sh": pd.Series([], dtype="int64"),
                    }
                )
                continue
            yield pd.DataFrame(
                {"doc_id": np.concatenate(ids_out), "sh": np.concatenate(sh_out)}
            )

    return docs.select("doc_id", "text").mapInPandas(
        batches, schema="doc_id long, sh long"
    )


_SHINGLED_SQL = f"""
    SELECT doc_id, unnest({hashing.shingle_hashes_sql("text")}) AS sh
    FROM documents
"""


@query(
    "dedup_exact",
    oracle="""
        SELECT text, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
        FROM documents
        GROUP BY text
        HAVING COUNT(*) >= 1
    """,
    doc="Exact dedup: one survivor (min doc_id) per distinct text. "
    "At scale group on xxhash64(text) first so the shuffle carries hashes.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH sh AS ({_SHINGLED_SQL}),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
    """,
    doc="Near-dup pairs by exact word-3-gram Jaccard >= 0.8 via shingle "
    "inverted-index self-join. Quadratic in posting-list length — the "
    "correctness baseline that MinHash-LSH approximates at scale.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingled(spark, sf_dir)
    sh.count()  # materialize: 3 downstream scans run in concurrent stages
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # Intersection counts via grouped pair expansion: group the posting
    # list per shingle, expand i<j doc pairs JVM-side, count pair
    # occurrences — one shuffle on sh + one on the pair key, vs the
    # posting-list self-join's two shuffles + double scan of sh.
    inter = (
        sh.groupBy("sh")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(pairs.sorted_pair_structs("ids", "doc_a", "doc_b")).alias("p"))
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i").cast("double") / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    return (
        inter.join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _minhash_sig_exprs() -> list:
    """k min-over-shingles aggregates, one per permutation."""
    return [
        F.min(hashing.minhash_perm(F.col("sh"), i)).alias(f"m{i}") for i in range(N_PERMS)
    ]


def _band_hash(band: int) -> F.Column:
    """Combine one band's row minhashes into a single bucket hash."""
    cols = [F.col(f"m{band * ROWS_PER_BAND + j}") for j in range(ROWS_PER_BAND)]
    acc = cols[0]
    for c in cols[1:]:
        acc = hashing.combine_pair(acc, c)
    return acc


def _band_hash_sql(band: int) -> str:
    exprs = [f"m{band * ROWS_PER_BAND + j}" for j in range(ROWS_PER_BAND)]
    acc = exprs[0]
    for e in exprs[1:]:
        acc = hashing.combine_pair_sql(acc, e)
    return acc


_SIG_SQL = ", ".join(
    f"MIN({hashing.minhash_perm_sql('sh', i)}) AS m{i}" for i in range(N_PERMS)
)
_BANDS_SQL = ", ".join(
    f"({_band_hash_sql(b)}) AS band{b}" for b in range(N_BANDS)
)
_BAND_UNION_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, band{b} AS bucket FROM sigs" for b in range(N_BANDS)
)


@query(
    "dedup_minhash_lsh",
    oracle=f"""
        WITH sh AS ({_SHINGLED_SQL}),
        sigs AS (
            SELECT doc_id, {_BANDS_SQL}
            FROM (SELECT doc_id, {_SIG_SQL} FROM sh GROUP BY doc_id)
        ),
        buckets AS ({_BAND_UNION_SQL}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        verified AS (
            SELECT c.doc_a, c.doc_b, COUNT(s2.sh) AS i
            FROM cand c
            JOIN sh s1 ON s1.doc_id = c.doc_a
            LEFT JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.sh = s1.sh
            GROUP BY 1, 2
        )
        SELECT v.doc_a, v.doc_b,
               CAST(v.i AS DOUBLE) / (sa.n + sb.n - v.i) AS jaccard
        FROM verified v
        JOIN sizes sa ON sa.doc_id = v.doc_a
        JOIN sizes sb ON sb.doc_id = v.doc_b
        WHERE CAST(v.i AS DOUBLE) / (sa.n + sb.n - v.i) >= {JACCARD_THRESHOLD}
    """,
    doc=f"MinHash({N_PERMS} perms) + LSH({N_BANDS} bands × {ROWS_PER_BAND}) "
    "candidate generation, verified with true Jaccard >= 0.8. The scale path: "
    "signatures in one groupBy; candidates only where a band bucket collides.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingled(spark, sf_dir)
    sh.count()  # materialize: 4 downstream scans run in concurrent stages
    return minhash_verified_pairs(sh)


def lsh_candidate_pairs(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b) banded-LSH candidate pairs of a shingled frame —
    the pre-verification half of minhash_verified_pairs. Candidate pairs
    come from grouped pair expansion: one shuffle on (band, bucket) +
    JVM-side i<j expansion, instead of a bucket self-join (two shuffles
    + two scans of the band frame)."""
    sigs = sh.groupBy("doc_id").agg(*_minhash_sig_exprs())
    bands = sigs.select(
        "doc_id", *[_band_hash(b).alias(f"band{b}") for b in range(N_BANDS)]
    )
    # One row per (doc, band): stack the bands, then bucket-join.
    stacked = bands.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bucket"))
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    return (
        stacked.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(pairs.sorted_pair_structs("ids", "doc_a", "doc_b")).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def minhash_verified_pairs(
    sh: DataFrame, broadcast_candidates: bool = True
) -> DataFrame:
    """(doc_a, doc_b, jaccard) MinHash+LSH near-dup pairs over any
    shingled frame ``(doc_id, sh)`` (shingled_docs output). The reusable
    core of dedup_minhash_lsh — also the corpus-facade fuzzy-dedup
    primitive.

    ``broadcast_candidates`` is the density knob: LSH's contract is that
    candidates are a tiny fraction of docs, so broadcasting them makes
    both verification joins shuffle-free (the default). At PATHOLOGICAL
    dup density the candidate set is corpus-sized (measured: a corpus
    where every doc sits in a 100-member near-dup cluster yields ~25M
    candidate pairs from 500k docs — the broadcast build stalls); pass
    False there and verification runs as ordinary shuffle joins, which
    scale with candidate volume."""
    cand = lsh_candidate_pairs(sh)
    maybe_b = F.broadcast if broadcast_candidates else (lambda df: df)
    # Verify against per-doc SORTED SHINGLE ARRAYS instead of the
    # row-level shingle frame (round 8; the prefix-filter shape): the
    # old spelling shuffled the shingle frame on (doc_id, sh) for the
    # intersection join plus two more hops for the sizes — the array
    # spelling is one groupBy (its exchange is REUSED from the
    # signature aggregate over the same key) and two candidate joins
    # with a JVM array_intersect. sh is distinct per doc, so
    # size(array_intersect) == the old COUNT(s2.sh) and size(shs) ==
    # the old sizes.n — jaccard is the identical division of identical
    # integers.
    arrays = sh.groupBy("doc_id").agg(F.array_sort(F.collect_set("sh")).alias("shs"))
    with_a = maybe_b(cand).join(
        arrays.select(
            F.col("doc_id").alias("doc_a"),
            F.col("shs").alias("sha"),
            F.size("shs").cast("long").alias("na"),
        ),
        "doc_a",
    )
    # broadcast the candidate side at each hop so the corpus-scale
    # arrays frame streams map-side, never shuffles (the second scan's
    # aggregate exchange is reused from the first)
    withe = maybe_b(with_a).join(
        arrays.select(
            F.col("doc_id").alias("doc_b"),
            F.col("shs").alias("shb"),
            F.size("shs").cast("long").alias("nb"),
        ),
        "doc_b",
    )
    i = F.size(F.array_intersect("sha", "shb")).cast("long")
    jac = i.cast("double") / (F.col("na") + F.col("nb") - i)
    return (
        withe.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# (bands, rows-per-band) sweeps over the SAME 16-perm signatures: the
# banding tradeoff curve (MMDS ch.3: collision prob = 1-(1-s^r)^b).
_BAND_CONFIGS = [(2, 8), (4, 4), (8, 2), (16, 1)]


def _band_hash_cfg(band: int, rpb: int) -> F.Column:
    cols = [F.col(f"m{band * rpb + j}") for j in range(rpb)]
    acc = cols[0]
    for c in cols[1:]:
        acc = hashing.combine_pair(acc, c)
    return acc


def _band_hash_cfg_sql(band: int, rpb: int) -> str:
    exprs = [f"m{band * rpb + j}" for j in range(rpb)]
    acc = exprs[0]
    for e in exprs[1:]:
        acc = hashing.combine_pair_sql(acc, e)
    return acc


def _band_curve_cfg_sql(nb: int, rpb: int) -> str:
    stacked = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, ({_band_hash_cfg_sql(b, rpb)}) AS bucket"
        " FROM sigs"
        for b in range(nb)
    )
    return f"""
        SELECT {nb} AS n_bands, {rpb} AS rows_per_band,
               (SELECT COUNT(*) FROM (
                   SELECT DISTINCT a.doc_id, b.doc_id
                   FROM ({stacked}) a JOIN ({stacked}) b
                     ON a.band = b.band AND a.bucket = b.bucket
                        AND a.doc_id < b.doc_id
               )) AS n_candidates,
               (SELECT COUNT(*) FROM truth) AS n_truth,
               (SELECT COUNT(*) FROM truth t
                WHERE EXISTS (
                    SELECT 1 FROM ({stacked}) a JOIN ({stacked}) b
                      ON a.band = b.band AND a.bucket = b.bucket
                     AND a.doc_id = t.doc_a AND b.doc_id = t.doc_b
                )) AS truth_hits
    """


@query(
    "dedup_minhash_band_curve",
    oracle=f"""
        WITH sh AS MATERIALIZED ({_SHINGLED_SQL}),
        sigs AS MATERIALIZED (
            SELECT doc_id, {_SIG_SQL} FROM sh GROUP BY doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        truth AS MATERIALIZED (
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
        ),
        curve AS ({" UNION ALL ".join(_band_curve_cfg_sql(nb, rpb) for nb, rpb in _BAND_CONFIGS)})
        SELECT CAST(n_bands AS BIGINT) AS n_bands,
               CAST(rows_per_band AS BIGINT) AS rows_per_band,
               CAST(n_candidates AS BIGINT) AS n_candidates,
               CAST(n_truth AS BIGINT) AS n_truth,
               CAST(truth_hits AS BIGINT) AS truth_hits,
               CAST((1000000 * truth_hits) // NULLIF(n_truth, 0) AS BIGINT)
                   AS recall_ppm
        FROM curve
    """,
    doc=f"MinHash-LSH BANDING TRADEOFF curve (MMDS ch.3 s-curve, the "
    f"LSH sibling of ann_ivfpq_filtered_probe_curve): the same "
    f"{N_PERMS}-perm signatures re-banded as "
    f"{', '.join(f'{b}x{r}' for b, r in _BAND_CONFIGS)}, each config "
    "reporting candidate-pair count (verification COST) and recall of "
    "the exact Jaccard>=0.8 ground truth (quadratic baseline, gate "
    "scale only) in exact ppm — the measured tuning ledger behind the "
    f"production default ({N_BANDS}x{ROWS_PER_BAND}). More bands x "
    "fewer rows slides up the s-curve: candidates grow, recall grows; "
    "the gate pins that recall is monotone non-decreasing in the band "
    "count AND that the default config's recall holds. One shuffle per "
    "config on (band, bucket) with grouped i<j pair expansion; "
    "signatures and truth are computed ONCE (shared cached shingles). "
    "At production scale run the curve on a fixed-size SAMPLE of the "
    "corpus — band collision probability is a property of the pairwise "
    "similarity distribution, not of corpus size — and keep the "
    "quadratic truth baseline bounded there too.",
)
def dedup_minhash_band_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingled(spark, sf_dir)
    sh.count()  # materialize: every config + truth scans it concurrently
    # Cache signatures and truth: the 4-config UNION plan otherwise
    # re-runs the signature groupBy once per config (4x) and the
    # quadratic exact-Jaccard truth baseline once per hits-join plus
    # once for its count (5x). Both frames are narrow and bounded —
    # one 16-column signature row per doc, one pair row per true
    # near-dup (guide §5; the bench clears caches between passes).
    sigs = sh.groupBy("doc_id").agg(*_minhash_sig_exprs()).cache()
    truth = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b").cache()
    truth_n = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    rows = []
    for nb, rpb in _BAND_CONFIGS:
        stacked = sigs.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            _band_hash_cfg(b, rpb).alias("bucket"),
                        )
                        for b in range(nb)
                    ]
                )
            ).alias("bb"),
        ).select("doc_id", "bb.band", "bb.bucket")
        cand = (
            stacked.groupBy("band", "bucket")
            .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
            .filter(F.size("ids") >= 2)
            .select(
                F.explode(pairs.sorted_pair_structs("ids", "doc_a", "doc_b")).alias("p")
            )
            .select("p.doc_a", "p.doc_b")
            .distinct()
        )
        n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
        hits = truth.join(cand, ["doc_a", "doc_b"]).agg(
            F.count(F.lit(1)).alias("truth_hits")
        )
        rows.append(
            n_cand.crossJoin(F.broadcast(truth_n))
            .crossJoin(F.broadcast(hits))
            .select(
                F.lit(nb).cast("long").alias("n_bands"),
                F.lit(rpb).cast("long").alias("rows_per_band"),
                F.col("n_candidates").cast("long"),
                F.col("n_truth").cast("long"),
                F.col("truth_hits").cast("long"),
                F.expr("(1000000 * truth_hits) DIV NULLIF(n_truth, 0)")
                .cast("long")
                .alias("recall_ppm"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _simhash_sigs(sh: DataFrame) -> DataFrame:
    """(doc_id, sig): 63-bit simhash per doc, numpy-batched.

    Replaces a 63-column ``SUM(CASE)`` hash aggregate (measured ~1.1 s
    of the 2.8 s query at sf0.1: 63 modular affine tests per shingle
    row, too many aggregate buffers for one codegen method) with one
    Arrow pass: repartition shingles by doc_id so each doc lands in
    exactly one partition, then ``mapInPandas`` accumulates +-1 bit
    votes per doc across batches and emits the packed signature.

    Shuffle math at scale favors this too: with d aggregates and a doc's
    shingles spread over p partitions, partial aggregation ships d*p
    longs per doc (63*p) while the raw shingle shuffle ships one row per
    shingle (~tokens per doc) — partial agg only wins when docs have
    >63*p shingles. Bit votes are order-independent integer sums, so
    the result is bit-identical to the oracle's SUM(CASE) formulation.
    """
    import numpy as np
    import pandas as pd

    A = np.array([a for a, _ in _SIMHASH_AB], dtype=np.int64)
    B = np.array([b for _, b in _SIMHASH_AB], dtype=np.int64)
    pows = np.int64(1) << np.arange(SIMHASH_BITS, dtype=np.int64)

    def sig_partition(batches):
        votes: dict = {}
        for pdf in batches:
            shv = pdf["sh"].to_numpy(dtype=np.int64)
            # (n, 63) +-1 votes; sh*A < MOD^2 ~ 2^60 fits int64.
            tests = ((shv[:, None] * A + B) % hashing.MOD < _SIMHASH_T).astype(
                np.int64
            ) * 2 - 1
            codes, uniq = pd.factorize(pdf["doc_id"])
            partial = np.zeros((len(uniq), SIMHASH_BITS), dtype=np.int64)
            np.add.at(partial, codes, tests)
            for doc, row in zip(uniq, partial):
                prev = votes.get(doc)
                votes[doc] = row if prev is None else prev + row
        if not votes:
            return
        docs = np.fromiter(votes.keys(), dtype=np.int64, count=len(votes))
        v = np.stack(list(votes.values()))
        yield pd.DataFrame({"doc_id": docs, "sig": (v > 0) @ pows})

    return sh.repartition("doc_id").mapInPandas(sig_partition, "doc_id long, sig long")


_SIMHASH_VOTES_SQL = ", ".join(
    f"SUM(CASE WHEN (sh * {a} + {b}) % {hashing.MOD} < {_SIMHASH_T} "
    f"THEN 1 ELSE -1 END) AS v{j}"
    for j, (a, b) in enumerate(_SIMHASH_AB)
)
_SIMHASH_SIG_SQL = " + ".join(
    f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
)
_SIMHASH_BAND_UNION_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, "
    f"(sig >> {SIMHASH_BAND_BITS * b}) & {(1 << SIMHASH_BAND_BITS) - 1} AS bucket FROM sigs"
    for b in range(SIMHASH_BANDS)
)


# All-pairs expansion bound per band bucket. On low-entropy corpora
# unrelated docs collide into giant buckets and the i<j expansion goes
# quadratic in bucket size (measured 11x cost for 10x data at 50k docs,
# BASELINE.md) — buckets past this cap are split on extra signature
# bits before expansion. At the oracle scale factors (<=4k docs, ~8
# docs/bucket) the guard is dormant, so the exact-candidate DuckDB
# oracle still matches.
SIMHASH_BUCKET_CAP = 32


def _band_buckets(sigs: DataFrame, with_sig: bool) -> DataFrame:
    """(doc_id[, sig], band, bucket) — one row per (doc, band); shared
    by the candidate generator and the oversized-bucket observability
    view so the two can never disagree on the bucketing."""
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("sig"), SIMHASH_BAND_BITS * b)
                    .bitwiseAND(F.lit(mask))
                    .alias("bucket"),
                )
                for b in range(SIMHASH_BANDS)
            ]
        )
    ).alias("bb")
    cols = ["doc_id", "sig"] if with_sig else ["doc_id"]
    return sigs.select(*cols, bb).select(*cols, "bb.band", "bb.bucket")


_CHAIN_EXPR = (
    "transform(slice({a}, 1, size({a}) - 1),"
    " (x, i) -> struct(x AS doc_a, {a}[i + 1] AS doc_b))"
)


def simhash_candidate_pairs(sigs: DataFrame, cap: int = SIMHASH_BUCKET_CAP) -> DataFrame:
    """Banded candidate pairs of a ``(doc_id, sig)`` frame, with the
    tiered bucket-size guard. ``cap`` is the guard knob: raise it (or
    pass a corpus-sized value) to trade runtime for exact banded
    recall on corpora where the measured 95.8% component-level recall
    (BASELINE.md) is not acceptable — the escape hatch mirrors
    minhash's ``broadcast_candidates``.

    Tiers:

    1. buckets ``<= cap`` docs: grouped all-pairs
       expansion (one shuffle on (band, bucket), no self-join);
    2. oversized buckets: REFINE on the next two bands' bits (18 extra
       signature bits, cyclic) and expand within the refined buckets —
       unrelated docs that merely share one band's distribution now
       split apart, which is exactly the measured quadratic case;
    3. a refined bucket still past the cap is grouped by the FULL
       signature: identical-signature groups emit the sorted adjacent
       chain (hamming 0, so every link passes verification and the
       clique stays connected for survivorship — linear output), and
       one representative per signature group pairs across groups
       (all-pairs up to the cap, chained past it).

    The guard is a bounded-recall tradeoff by construction: a pair
    whose EVERY clean band is oversized and whose refinement bits
    differ can be dropped (tier-2), as can cross-representative pairs
    past the tier-3 cap — ``simhash_oversized_buckets`` exposes every
    bucket the guard touched, so the loss is loggable, never silent.
    Dormant on healthy corpora (no bucket past the cap → tier 1 only),
    and the dormant path is exactly the unguarded plan: the banding
    shuffle carries doc_ids only (no sig payload), and ONE bounded
    driver scalar — max bucket size over the cached grouped frame, an
    action that also materializes the cache the expansion reuses —
    decides whether the oversized tiers exist at all. Only when they
    do are signatures re-derived, for JUST the oversized buckets.
    """
    # Tier-1 state: doc_ids only. Carrying the 8-byte sig through the
    # banding shuffle for a guard that is dormant on healthy corpora
    # measured +65% on dedup_simhash at sf0.1 — the oversized tiers
    # below re-derive sigs for their (few) buckets instead.
    grouped = (
        _band_buckets(sigs, with_sig=False)
        .groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .cache()
    )
    max_sz = grouped.agg(F.max(F.size("ids"))).collect()[0][0] or 0
    small = (
        (grouped if max_sz <= cap else grouped.filter(F.size("ids") <= cap))
        .select(F.explode(pairs.sorted_pair_structs("ids", "doc_a", "doc_b")).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )
    if max_sz <= cap:
        # A pair sharing two clean bands still collides twice.
        return small.distinct()
    mask = (1 << SIMHASH_BAND_BITS) - 1
    refine = (
        f"(shiftright(sig, {SIMHASH_BAND_BITS} * ((band + 1) % {SIMHASH_BANDS}))"
        f" & {mask}) * {1 << SIMHASH_BAND_BITS}"
        f" + (shiftright(sig, {SIMHASH_BAND_BITS} * ((band + 2) % {SIMHASH_BANDS}))"
        f" & {mask})"
    )
    # Oversized buckets only: re-derive (doc_id, sig) rows for these
    # buckets by joining the band frame against the oversized key list
    # (dimension-sized: <= n/cap buckets, two ints each — broadcast).
    over_keys = grouped.filter(F.size("ids") > cap).select("band", "bucket")
    refined = (
        _band_buckets(sigs, with_sig=True)
        .join(F.broadcast(over_keys), ["band", "bucket"])
        .withColumn("rbucket", F.expr(refine))
        .groupBy("band", "bucket", "rbucket")
        .agg(F.collect_list(F.struct("sig", "doc_id")).alias("mem"))
        .filter(F.size("mem") >= 2)
    )
    ref_small = (
        refined.filter(F.size("mem") <= cap)
        .select(F.array_sort(F.expr("transform(mem, x -> x.doc_id)")).alias("ids"))
        .select(F.explode(pairs.sorted_pair_structs("ids", "doc_a", "doc_b")).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )
    # Tier 3: full-signature groups within still-oversized refined
    # buckets. Chains inside an identical-sig group are provably
    # verification-safe (hamming 0); representatives connect the groups.
    sig_groups = (
        refined.filter(F.size("mem") > cap)
        .select("band", "bucket", "rbucket", F.explode("mem").alias("m"))
        .groupBy("band", "bucket", "rbucket", F.col("m.sig").alias("gsig"))
        .agg(F.array_sort(F.collect_set("m.doc_id")).alias("gids"))
    )
    chain_within = (
        sig_groups.filter(F.size("gids") >= 2)
        .select(F.explode(F.expr(_CHAIN_EXPR.format(a="gids"))).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )
    reps = (
        sig_groups.groupBy("band", "bucket", "rbucket")
        .agg(F.array_sort(F.collect_set(F.expr("gids[0]"))).alias("rids"))
        .filter(F.size("rids") >= 2)
    )
    rep_pairs = (
        reps.filter(F.size("rids") <= cap)
        .select(F.explode(pairs.sorted_pair_structs("rids", "doc_a", "doc_b")).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )
    rep_chain = (
        reps.filter(F.size("rids") > cap)
        .select(F.explode(F.expr(_CHAIN_EXPR.format(a="rids"))).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )
    return (
        small.unionByName(ref_small)
        .unionByName(chain_within)
        .unionByName(rep_pairs)
        .unionByName(rep_chain)
        .distinct()
    )


def simhash_oversized_buckets(sigs: DataFrame) -> DataFrame:
    """Observability for the guard (no silent caps): ``(band, bucket,
    n)`` of every band bucket past SIMHASH_BUCKET_CAP — the buckets the
    guard split before pair expansion. Shares ``_band_buckets`` with
    the candidate generator so the two can never disagree."""
    return (
        _band_buckets(sigs, with_sig=False)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > SIMHASH_BUCKET_CAP)
    )


@query(
    "dedup_simhash",
    oracle=f"""
        WITH sh AS ({_SHINGLED_SQL}),
        votes AS (SELECT doc_id, {_SIMHASH_VOTES_SQL} FROM sh GROUP BY doc_id),
        sigs AS (SELECT doc_id, {_SIMHASH_SIG_SQL} AS sig FROM votes),
        buckets AS ({_SIMHASH_BAND_UNION_SQL}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        )
        SELECT c.doc_a, c.doc_b,
               CAST(bit_count(xor(sa.sig, sb.sig)) AS INTEGER) AS hamming
        FROM cand c
        JOIN sigs sa ON sa.doc_id = c.doc_a
        JOIN sigs sb ON sb.doc_id = c.doc_b
        WHERE bit_count(xor(sa.sig, sb.sig)) <= {HAMMING_MAX}
    """,
    doc=f"SimHash near-dup: {SIMHASH_BITS}-bit signature over shingle-hash "
    f"features (bit votes from independent affine-mod tests), "
    f"{SIMHASH_BANDS}x{SIMHASH_BAND_BITS}-bit LSH bands for candidates "
    f"(pigeonhole-complete for hamming <= {SIMHASH_BANDS - 1}), verified "
    f"hamming <= {HAMMING_MAX}. 512 buckets/band keeps the bucket "
    "self-join sparse (~10 docs/bucket at 5k docs). Features are "
    "shingles, not unigrams: this corpus's docs share one small "
    "vocabulary, so unigram simhash collapses (measured: 171 hamming-0 "
    "pairs vs 25 true near-dups); shingle features separate cleanly. "
    "Scale guard (the round-2 measured hazard, now in code): simhash "
    "buckets by the DISTRIBUTION of features, so on low-entropy corpora "
    "unrelated docs collide into giant bands and the pair expansion "
    f"goes quadratic in bucket size — buckets past SIMHASH_BUCKET_CAP="
    f"{SIMHASH_BUCKET_CAP} are split on 18 extra signature bits before "
    "expansion, and still-oversized (identical-signature) groups emit "
    "the sorted adjacent chain (linear, clique stays connected for "
    "survivorship). Dormant at oracle scale, so the exact-candidate "
    "oracle matches; adversarial 50k-doc cost re-measured in "
    "BASELINE.md.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingled(spark, sf_dir)
    sigs = _simhash_sigs(sh).cache()
    sigs.count()  # materialize: bucket join + verify join both scan it
    cand = simhash_candidate_pairs(sigs)
    hamming = F.bit_count(F.col("sa.sig").bitwiseXOR(F.col("sb.sig")))
    # Candidate pairs are tiny after banding — broadcast them against
    # the per-doc signature frame (distributed at scale) at each step.
    with_a = F.broadcast(cand).join(sigs.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
    return (
        F.broadcast(with_a)
        .join(sigs.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_MAX)
    )


@query(
    "dedup_connected_components",
    oracle="""
        WITH RECURSIVE
        edges AS (
            SELECT a.text, LEAST(a.doc_id, b.doc_id) AS a, GREATEST(a.doc_id, b.doc_id) AS b
            FROM documents a JOIN documents b
              ON a.text = b.text AND a.doc_id < b.doc_id
        ),
        sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
        reach(src, dst) AS (
            SELECT DISTINCT a AS src, a AS dst FROM sym
            UNION
            SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
        )
        SELECT src AS doc_id, MIN(dst) AS cluster_id
        FROM reach GROUP BY src
    """,
    doc="Connected components over the exact-duplicate graph: iterative "
    "min-label propagation (each round one shuffle: min over neighbors) "
    "run to a fixpoint — the survivor-selection step every dedup "
    "pipeline needs after pair generation. The DuckDB oracle computes "
    "the same components via a recursive reachability CTE, so the "
    "iterative Spark algorithm is verified against a declarative "
    "specification, not a reimplementation. Output: every doc that has "
    "a duplicate, with its cluster's min doc_id as cluster id.",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Duplicate-pair edges via ONE shuffle: group doc_ids by text and
    # emit i<j pairs from each sorted group — the text self-join shape
    # shuffles every document body twice and re-joins. (At 100 TB group
    # on a text fingerprint first and verify texts within groups so the
    # shuffle key is 8 bytes.)
    groups = (
        docs.groupBy("text")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = (
        groups.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), y -> "
                    "struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    # Symmetric closure via explode (ONE execution of the groups
    # subtree — see functions/pairs.py:symmetrized); iterate label =
    # min(neighbor labels) to a fixpoint (operators/graph_api.py).
    from minispark_spark.functions.pairs import symmetrized
    from minispark_spark.operators.graph_api import connected_components_labels

    sym = symmetrized(pairs, "a", "b")
    labels = connected_components_labels(sym)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


# --- End-to-end fuzzy-dedup curation ---------------------------------------
#
# The full near-dup removal pass a corpus pipeline runs: MinHash+LSH
# candidate pairs (verified Jaccard >= threshold) -> connected
# components over the near-dup graph -> keep the min doc_id per
# cluster -> survivor corpus stats. Composes three already-oracled
# stages (dedup_minhash_lsh, dedup_connected_components' propagation,
# text token stats) into ONE plan, with a single DuckDB oracle
# replaying pairs + recursive reachability + survivor aggregation.

_FUZZY_PAIRS_CTES = f"""
        sh AS ({_SHINGLED_SQL}),
        sigs AS (
            SELECT doc_id, {_BANDS_SQL}
            FROM (SELECT doc_id, {_SIG_SQL} FROM sh GROUP BY doc_id)
        ),
        buckets AS ({_BAND_UNION_SQL}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        verified AS (
            SELECT c.doc_a, c.doc_b, COUNT(s2.sh) AS i
            FROM cand c
            JOIN sh s1 ON s1.doc_id = c.doc_a
            LEFT JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.sh = s1.sh
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT v.doc_a, v.doc_b
            FROM verified v
            JOIN sizes sa ON sa.doc_id = v.doc_a
            JOIN sizes sb ON sb.doc_id = v.doc_b
            WHERE CAST(v.i AS DOUBLE) / (sa.n + sb.n - v.i) >= {JACCARD_THRESHOLD}
        )
"""


@query(
    "docs_fuzzy_dedup_curation",
    oracle=f"""
        WITH RECURSIVE
        {_FUZZY_PAIRS_CTES},
        sym AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM pairs
        ),
        reach(src, dst) AS (
            SELECT a, b FROM sym
            UNION
            SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
        ),
        labels AS (
            SELECT src AS doc_id, MIN(dst) AS cluster_id
            FROM reach GROUP BY src
        ),
        survivors AS (
            SELECT d.* FROM documents d
            WHERE d.doc_id NOT IN
                (SELECT doc_id FROM labels WHERE cluster_id <> doc_id)
        )
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM({text.token_count_sql("text")}) AS BIGINT) AS total_tokens
        FROM survivors GROUP BY source
    """,
    doc=f"End-to-end fuzzy dedup: MinHash({N_PERMS})+LSH({N_BANDS} bands) "
    f"pairs verified at Jaccard >= {JACCARD_THRESHOLD} -> connected "
    "components (iterative min-label propagation, one shuffle per round) "
    "-> keep the min doc_id of each near-dup cluster -> per-source "
    "survivor stats. The whole removal pass is one composed plan: "
    "shingles come from the family-shared cache, candidate generation "
    "is bucketed (never all-pairs), the dup set is a tiny fraction of "
    "the corpus so the survivor anti-join broadcasts under AQE. Oracle "
    "replays pairs, recursive reachability, and survivor aggregation "
    "declaratively.",
)
def docs_fuzzy_dedup_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minispark_spark.operators.graph_api import connected_components_labels

    pairs_df = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    # Symmetrize via explode (functions/pairs.py): the unionByName(swap)
    # spelling executed the whole LSH verified-pairs pipeline TWICE when
    # connected_components_labels materialized its cache (guide §2.4).
    sym = pairs.symmetrized(pairs_df, "doc_a", "doc_b")
    labels = connected_components_labels(sym)
    dead = labels.filter(F.col("label") != F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    docs = load_table(spark, sf_dir, "documents")
    survivors = docs.join(dead, "doc_id", "left_anti")
    return survivors.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(text.token_count(F.col("text"))).cast("long").alias("total_tokens"),
    )


@query(
    "dedup_minhash_audit",
    oracle=None,  # assigned below from the composed family oracles
    doc="",
)
def dedup_minhash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cache the exact ground-truth pairs: the composed plan reads this
    # frame twice (the LSH intersection join AND the n_true aggregate)
    # and uncached each read re-ran the full quadratic-verification
    # pipeline. One narrow (doc_a, doc_b) row per true near-dup pair —
    # bounded by the corpus' near-dup density (guide §5 multi-action
    # reuse; the bench clears caches between passes).
    exact = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b").cache()
    # LSH's verification step IS an exact-Jaccard filter, so its output
    # equals (band candidates) INTERSECT (exact pairs >= threshold) —
    # the audit exploits that identity to skip re-running the
    # verification joins: candidates come straight from the bands.
    cand = lsh_candidate_pairs(_shingled(spark, sf_dir)).select(
        F.col("doc_a").alias("l_a"), F.col("doc_b").alias("l_b")
    )
    lsh = exact.join(
        cand, (F.col("l_a") == F.col("doc_a")) & (F.col("l_b") == F.col("doc_b"))
    ).select("l_a", "l_b")
    # hits IS lsh (precision 1.0 by construction; recall is the
    # signal), so n_hits == n_lsh_pairs by identity: aggregate the
    # frame ONCE and project the count under both names instead of
    # executing the intersection subtree twice.
    n_true = exact.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
    n_both = lsh.agg(F.count(F.lit(1)).cast("long").alias("n_lsh_pairs"))
    return (
        F.broadcast(n_true)
        .join(F.broadcast(n_both))
        .select(
            "n_true_pairs",
            "n_lsh_pairs",
            F.col("n_lsh_pairs").alias("n_hits"),
            # nullif: with no true/found pairs the ratio is undefined
            # (NULL), not a divide-by-zero crash — empty-corpus-safe.
            # (n_lsh_pairs is the hit count — see the identity above.)
            (
                F.col("n_lsh_pairs").cast("double")
                / F.nullif(F.col("n_true_pairs").cast("double"), F.lit(0.0))
            ).alias("pair_recall"),
            (
                F.col("n_lsh_pairs").cast("double")
                / F.nullif(F.col("n_lsh_pairs").cast("double"), F.lit(0.0))
            ).alias("pair_precision"),
        )
    )


def _minhash_audit_oracle() -> str:
    from minispark_spark.registry import REGISTRY as _R

    return f"""
        WITH exact AS ({_R["dedup_ngram_jaccard"].oracle}),
        lsh AS ({_R["dedup_minhash_lsh"].oracle}),
        hits AS (
            SELECT 1 FROM exact e JOIN lsh l
              ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b
        )
        SELECT (SELECT COUNT(*) FROM exact)::BIGINT AS n_true_pairs,
               (SELECT COUNT(*) FROM lsh)::BIGINT AS n_lsh_pairs,
               (SELECT COUNT(*) FROM hits)::BIGINT AS n_hits,
               CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
                   / nullif((SELECT COUNT(*) FROM exact), 0) AS pair_recall,
               CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
                   / nullif((SELECT COUNT(*) FROM lsh), 0) AS pair_precision
    """


def _finalize_minhash_audit() -> None:
    from minispark_spark.registry import REGISTRY, QuerySpec

    spec = REGISTRY["dedup_minhash_audit"]
    REGISTRY["dedup_minhash_audit"] = QuerySpec(
        name=spec.name,
        fn=spec.fn,
        oracle=_minhash_audit_oracle(),
        doc="Dedup-pipeline quality audit: pair recall/precision of the "
        "MinHash+LSH path against the exact n-gram-Jaccard ground truth "
        "— did any true near-dup pair escape the band buckets? Because "
        "LSH verification IS an exact-Jaccard filter, its output equals "
        "band-candidates INTERSECT exact-pairs, so the audit joins the "
        "exact pairs with the (cheap) candidate set instead of "
        "re-running verification; the oracle composes the two FULL "
        "family oracles, which also proves the identity holds. Shared "
        "cached shingles; the exact pair set is cached (read by both "
        "the intersection join and its own count) and hits==lsh means "
        "one aggregate serves both counts — two bounded 1-row "
        "aggregates broadcast together.",
    )


_finalize_minhash_audit()


CONTAINMENT_THRESHOLD = 0.5


@query(
    "dedup_containment",
    oracle=f"""
        WITH sh AS ({_SHINGLED_SQL}),
        sigs AS (
            SELECT doc_id, {_BANDS_SQL}
            FROM (SELECT doc_id, {_SIG_SQL} FROM sh GROUP BY doc_id)
        ),
        buckets AS ({_BAND_UNION_SQL}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        verified AS (
            SELECT c.doc_a, c.doc_b, COUNT(s2.sh) AS i
            FROM cand c
            JOIN sh s1 ON s1.doc_id = c.doc_a
            LEFT JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.sh = s1.sh
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, intersection, containment, contained_doc FROM (
            SELECT v.doc_a, v.doc_b,
                   CAST(v.i AS BIGINT) AS intersection,
                   CAST(v.i AS DOUBLE) / LEAST(sa.n, sb.n) AS containment,
                   CASE WHEN sa.n <= sb.n THEN v.doc_a ELSE v.doc_b END
                       AS contained_doc
            FROM verified v
            JOIN sizes sa ON sa.doc_id = v.doc_a
            JOIN sizes sb ON sb.doc_id = v.doc_b
        ) WHERE containment >= {CONTAINMENT_THRESHOLD}
    """,
    doc=f"Containment search (asymmetric near-dup): |A∩B|/min(|A|,|B|) "
    f">= {CONTAINMENT_THRESHOLD} over shingle sets — catches a short "
    "doc quoted/embedded inside a long one, which symmetric Jaccard "
    "dilutes below threshold (the Broder containment measure; the "
    "quote/snippet-detection primitive). Shares the cached shingle "
    "frame and the banded-LSH candidate generator with the whole dedup "
    "family (one extra query costs no extra shingling); candidates are "
    "broadcast through verification exactly like minhash_verified_pairs. "
    "Recall caveat, documented: MinHash bands are tuned for symmetric "
    "similarity, so a tiny doc inside a huge one may not band-collide — "
    "a production containment index would band per-size-class or use "
    "prefix filtering; the verification tail is identical either way.",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingled(spark, sf_dir)
    sh.count()  # materialize once; shared across the dedup family
    cand = lsh_candidate_pairs(sh)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    s1 = sh.alias("s1")
    s2 = sh.alias("s2")
    inter = (
        F.broadcast(cand)
        .join(s1, F.col("s1.doc_id") == F.col("doc_a"))
        .join(
            s2,
            (F.col("s2.doc_id") == F.col("doc_b")) & (F.col("s2.sh") == F.col("s1.sh")),
            "left",
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.col("s2.sh")).alias("i"))
    )
    containment = F.col("i").cast("double") / F.least(F.col("sa.n"), F.col("sb.n"))
    contained = F.when(F.col("sa.n") <= F.col("sb.n"), F.col("doc_a")).otherwise(
        F.col("doc_b")
    )
    with_a = F.broadcast(inter).join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
    return (
        F.broadcast(with_a)
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("i").cast("long").alias("intersection"),
            containment.alias("containment"),
            contained.alias("contained_doc"),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )


@query(
    "dedup_jaccard_prefix_filter",
    oracle=f"""
        WITH sh AS ({_SHINGLED_SQL}),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
    """,
    doc="EXACT set-similarity join by prefix filtering (the public "
    "AllPairs/PPJoin scheme, Bayardo et al. 2007): same output "
    "contract as dedup_ngram_jaccard — every pair with word-3-gram "
    "Jaccard >= 0.8, no approximation — but candidates come only from "
    "PREFIX shingles. Shingles are globally ordered by ascending "
    "document frequency (rarest first); a doc with n shingles "
    "contributes its first n - ceil(0.8n) + 1 to the index (the "
    "prefix-filtering lemma: J(A,B) >= t implies the prefixes "
    "intersect), so posting lists shrink ~5x and, crucially, lose "
    "their hottest (most common) shingles — the quadratic pair "
    "expansion runs over rare-shingle postings only. A length filter "
    "(t*max(na,nb) <= min(na,nb)) prunes candidates before exact "
    "verification via array_intersect on the candidate pairs alone. "
    "The oracle is the SAME quadratic SQL as dedup_ngram_jaccard: "
    "an algorithmically independent path must reproduce it exactly. "
    "ceil(0.8n) is computed as (4n+4) div 5 — pure integer, no float "
    "rounding hazard at any n.",
)
def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingled(spark, sf_dir)
    sh.count()  # materialize: 4 downstream scans share one computation
    return prefix_filter_pairs(sh)


def prefix_filter_pairs(sh: DataFrame) -> DataFrame:
    """DataFrame-input core of the prefix-filtered exact Jaccard join
    (callers pass any (doc_id, sh) shingle frame — the Corpus facade
    uses it for exact near-dup pairs over a filtered corpus)."""
    assert JACCARD_THRESHOLD == 0.8, "integer prefix math assumes t = 4/5"
    t = JACCARD_THRESHOLD
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    prefix_len = F.col("n") - F.expr("(4 * n + 4) div 5") + 1
    ranked = (
        sh.join(freq, "sh")
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "sh")),
        )
        .join(sizes, "doc_id")
        .where(F.col("rn") <= prefix_len)
    )
    cands = (
        ranked.groupBy("sh")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(pairs.sorted_pair_structs("ids", "doc_a", "doc_b")).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    cands = (
        cands.join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .where(
            # integer ceil(0.8*max) — same no-float-hazard trick as the
            # prefix length
            F.least(F.col("sa.n"), F.col("sb.n"))
            >= F.expr("(4 * greatest(sa.n, sb.n) + 4) div 5")
        )
        .select(
            "doc_a", "doc_b", F.col("sa.n").alias("na"), F.col("sb.n").alias("nb")
        )
    )
    arrays = sh.groupBy("doc_id").agg(F.array_sort(F.collect_list("sh")).alias("shs"))
    ver = cands.join(
        arrays.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("sha")),
        "doc_a",
    ).join(
        arrays.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shb")),
        "doc_b",
    )
    i = F.size(F.array_intersect("sha", "shb"))
    jac = i.cast("double") / (F.col("na") + F.col("nb") - i)
    return ver.select("doc_a", "doc_b", jac.alias("jaccard")).where(
        F.col("jaccard") >= F.lit(t)
    )


@query(
    "docs_dedup_survivorship",
    oracle=f"""
        WITH RECURSIVE
        {_FUZZY_PAIRS_CTES},
        sym AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM pairs
        ),
        reach(src, dst) AS (
            SELECT a, b FROM sym
            UNION
            SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
        ),
        labels AS (
            SELECT src AS doc_id, MIN(dst) AS cluster_id
            FROM reach GROUP BY src
        ),
        ranked AS (
            SELECT l.cluster_id, l.doc_id, d.n_chars,
                   ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                       ORDER BY d.n_chars DESC, l.doc_id) AS rk,
                   COUNT(*) OVER (PARTITION BY l.cluster_id) AS n_members
            FROM labels l JOIN documents d ON d.doc_id = l.doc_id
        )
        SELECT cluster_id, doc_id AS survivor_doc_id,
               CAST(n_members AS BIGINT) AS n_members,
               CAST(n_chars AS BIGINT) AS survivor_chars
        FROM ranked WHERE rk = 1
    """,
    doc="Quality-aware survivorship policy over near-dup clusters: "
    "instead of keep-min-doc-id (docs_fuzzy_dedup_curation), each "
    "MinHash-LSH duplicate cluster keeps its LONGEST member (n_chars, "
    "tie-break min doc_id) — the 'keep the most complete copy' rule "
    "real curation uses when near-dups differ by truncation. Same "
    "bucketed pair generation and min-label-propagation components as "
    "the curation query; the survivor pick is one window over the "
    "(tiny) cluster-membership frame. Oracle replays the pair chain, "
    "recursive reachability, and the ranked pick.",
)
def docs_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minispark_spark.operators.graph_api import connected_components_labels

    pairs_df = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    # Symmetrize via explode (functions/pairs.py): the unionByName(swap)
    # spelling executed the whole LSH verified-pairs pipeline TWICE when
    # connected_components_labels materialized its cache (guide §2.4).
    sym = pairs.symmetrized(pairs_df, "doc_a", "doc_b")
    labels = connected_components_labels(sym).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = (
        labels.join(docs, "doc_id")
        .select(
            "cluster_id",
            "doc_id",
            "n_chars",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).alias("n_members"),
        )
    )
    return ranked.where(F.col("rk") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("survivor_doc_id"),
        F.col("n_members").cast("long").alias("n_members"),
        F.col("n_chars").cast("long").alias("survivor_chars"),
    )


@query(
    "docs_crosssource_dup_matrix",
    oracle=f"""
        WITH {_FUZZY_PAIRS_CTES}
        SELECT LEAST(da.source, db.source) AS source_x,
               GREATEST(da.source, db.source) AS source_y,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs p
        JOIN documents da ON da.doc_id = p.doc_a
        JOIN documents db ON db.doc_id = p.doc_b
        GROUP BY source_x, source_y
    """,
    doc="Cross-source duplication matrix: MinHash-verified near-dup "
    "pairs attributed to their (source, source) combination — the "
    "provenance diagnostic that tells a curation team WHICH feeds "
    "copy from each other (mirror detection) vs duplicate internally. "
    "Pairs come from the family-shared bucketed candidate path; the "
    "attribution is two broadcast-size joins on doc_id and a "
    "|sources|^2-row aggregate. LEAST/GREATEST canonicalizes the "
    "unordered source pair.",
)
def docs_crosssource_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs_df = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs_df.join(da, "doc_a")
        .join(db, "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("source_x"),
            F.greatest("sa", "sb").alias("source_y"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "docs_leakage_safe_split",
    oracle=None,  # assigned below (composes the fuzzy-pairs family CTEs)
    doc="",
)
def docs_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: hash the near-dup CLUSTER id,
    not the doc id, so every member of a near-duplicate cluster lands
    in the same split — the guard against test-set contamination that
    a per-doc hash split (docs_train_split) cannot give (a train doc's
    near-copy in test inflates eval). Pairs and components reuse the
    oracled minhash family; singleton docs are their own cluster. One
    extra left join over docs_train_split's plan; the label frame is a
    sub-percent fraction of the corpus, so AQE broadcasts it."""
    from minispark_spark.operators.graph_api import connected_components_labels

    # Symmetrize via explode (functions/pairs.py): ONE execution of the
    # LSH pipeline by construction — replaces the round-7 cache-the-
    # pairs fix (the unionByName spelling re-executed the pipeline per
    # branch; the explode needs neither the cache nor its storage).
    pairs_df = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    sym = pairs.symmetrized(pairs_df, "doc_a", "doc_b")
    labels = connected_components_labels(sym).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    assigned = docs.join(labels, "doc_id", "left").select(
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("c"), "n_chars"
    )
    bucket = hashing.poly_hash(F.col("c").cast("string")) % 100
    split = (
        F.when(bucket < 96, F.lit("train"))
        .when(bucket < 98, F.lit("val"))
        .otherwise("test")
    )
    return assigned.select(split.alias("split"), "c", "n_chars").groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("c").alias("n_clusters"),
        F.sum("n_chars").cast("long").alias("n_chars_total"),
    )


def _leakage_safe_split_oracle() -> str:
    split_case = (
        "CASE WHEN bucket < 96 THEN 'train' "
        "WHEN bucket < 98 THEN 'val' ELSE 'test' END"
    )
    return f"""
        WITH RECURSIVE
        {_FUZZY_PAIRS_CTES},
        sym AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM pairs
        ),
        reach(src, dst) AS (
            SELECT DISTINCT a AS src, a AS dst FROM sym
            UNION
            SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
        ),
        labels AS (
            SELECT src AS doc_id, MIN(dst) AS cluster_id
            FROM reach GROUP BY src
        ),
        assigned AS (
            SELECT COALESCE(l.cluster_id, d.doc_id) AS c, d.n_chars
            FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
        ),
        bucketed AS (
            SELECT c, n_chars,
                   {hashing.poly_hash_sql("CAST(c AS VARCHAR)")} % 100 AS bucket
            FROM assigned
        )
        SELECT {split_case} AS split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT c) AS BIGINT) AS n_clusters,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
        FROM bucketed
        GROUP BY 1
    """


def _finalize_leakage_safe_split() -> None:
    from minispark_spark.registry import REGISTRY, QuerySpec

    spec = REGISTRY["docs_leakage_safe_split"]
    REGISTRY["docs_leakage_safe_split"] = QuerySpec(
        name=spec.name,
        fn=spec.fn,
        oracle=_leakage_safe_split_oracle(),
        doc="Leakage-safe 96/2/2 split: near-dup clusters (MinHash+LSH "
        "pairs -> connected components) are hashed as ONE unit, so a "
        "test doc can never have a near-copy in train. Singletons hash "
        "their own id. Oracle replays pairs + recursive reachability + "
        "cluster-keyed hash split declaratively.",
    )


_finalize_leakage_safe_split()
