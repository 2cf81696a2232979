"""Corpus facade: every method must reproduce its oracle-verified
registry twin — the facade adds composition, never new semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from minispark_spark import registry
from minispark_spark.corpus import Corpus
from minispark_spark.registry import REGISTRY, _ensure_loaded
from minispark_spark.sources.tables import load_table

_ensure_loaded()


@pytest.fixture
def release_shared():
    """Drop the registry's shared memo after a sweep over a throw-away
    corpus. Its entries are keyed by that directory, so nothing reuses
    them, and the plans and broadcasts they pin would otherwise crowd
    the driver heap for the rest of the session."""
    yield
    registry.clear_plan_cache()


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_chunks_match_registry(spark, sf_dir):
    got = sorted(
        tuple(r) for r in Corpus(_docs(spark, sf_dir)).chunks().collect()
    )
    want = sorted(
        tuple(r) for r in REGISTRY["docs_chunk_overlap"].fn(spark, sf_dir).collect()
    )
    assert got == want


def test_filter_repetition_matches_batch_keep_set(spark, sf_dir):
    kept = {
        r["doc_id"]
        for r in Corpus(_docs(spark, sf_dir)).filter_repetition().df.collect()
    }
    want = {
        r["doc_id"]
        for r in REGISTRY["docs_repetition_filter"].fn(spark, sf_dir).collect()
        if r["keep"]
    }
    assert kept == want
    assert 0 < len(kept) < 500


def test_composed_curation_matches_registry_pipeline(spark, sf_dir):
    from minispark_spark.plans.pipeline import _CURATION_MIN_QUALITY

    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("source") != "src0")
    eval_docs = docs.filter(F.col("source") == "src0")
    got = {
        r["source"]: (r["n_docs"], r["total_tokens"], r["avg_quality"])
        for r in (
            Corpus(train)
            .filter_quality(_CURATION_MIN_QUALITY)
            .dedup_exact()
            .decontaminate(eval_docs)
            .stats()
            .collect()
        )
    }
    want = {
        r["source"]: (r["n_docs"], r["total_tokens"], r["avg_quality"])
        for r in REGISTRY["docs_corpus_curation"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_dedup_fuzzy_matches_registry_pipeline(spark, sf_dir):
    got = {
        r["source"]: (r["n_docs"], r["total_tokens"])
        for r in Corpus(_docs(spark, sf_dir)).dedup_fuzzy().stats().collect()
    }
    want = {
        r["source"]: (r["n_docs"], r["total_tokens"])
        for r in REGISTRY["docs_fuzzy_dedup_curation"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_temperature_sample_matches_registry_counts(spark, sf_dir):
    sampled = Corpus(_docs(spark, sf_dir)).temperature_sample()
    got = {
        r["source"]: r["n"]
        for r in sampled.df.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    want = {
        r["source"]: r["n_selected"]
        for r in REGISTRY["docs_temperature_mixture"].fn(spark, sf_dir).collect()
        if r["n_selected"] > 0
    }
    assert got == want


def test_composed_pipeline_is_one_plan(spark, sf_dir):
    """Chained facade stages fuse into a single Catalyst plan with no
    cartesian product and no single-partition exchange."""
    out = (
        Corpus(_docs(spark, sf_dir))
        .filter_quality(0.2)
        .dedup_exact()
        .stats()
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


@pytest.mark.usefixtures("release_shared")
def test_edge_docs_oracle_parity(spark, tmp_path):
    """Boundary documents the generated testdata never produces (its
    docs are all 10..99 tokens): empty text, single token, exact chunk/
    stride boundaries, pathological repetition, tabs. Both the batch
    and row-local repetition paths and the chunker must still match
    their DuckDB oracles exactly."""
    import duckdb

    from tests.oracle_check import compare_query

    edge = [
        (0, "", "en", "src1", 0),
        (1, "one", "en", "src1", 3),
        (2, " ".join(f"t{i}" for i in range(64)), "en", "src1", 100),
        (3, " ".join(f"t{i}" for i in range(65)), "en", "src1", 100),
        (4, " ".join(f"t{i}" for i in range(112)), "en", "src1", 100),
        (5, " ".join(f"t{i}" for i in range(113)), "en", "src1", 100),
        (6, "x " * 50 + "x", "en", "src2", 101),  # one repeated token
        (7, "a b a b a b a b", "en", "src2", 15),  # repeated bigram
        (8, "lead\ttab and  double  spaces", "en", "src2", 28),
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        edge, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    con = duckdb.connect()
    # Spark writes a parquet DIRECTORY; duckdb needs the part-file glob.
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    # Sweep EVERY documents-only registry query (any query whose oracle
    # references no other table) — this sweep caught the descending-
    # sequence crash and three ANSI divide-by-zero crashes on empty docs.
    import re as _re

    from minispark_spark.sources.tables import TABLES

    others = [t for t in TABLES if t != "documents"]
    names = sorted(
        name
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
        and "documents" in spec.oracle.lower()
        and not any(_re.search(rf"\b{t}\b", spec.oracle.lower()) for t in others)
    )
    assert len(names) >= 30  # the docs family must stay covered
    failures = []
    for name in names:
        try:
            ok, msg = compare_query(spark, con, name, d)
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"{type(e).__name__}: {e}"
        if not ok:
            failures.append(f"{name}: {msg[:200]}")
    assert not failures, "\n".join(failures)


@pytest.mark.usefixtures("release_shared")
def test_edge_vectors_oracle_parity(spark, tmp_path):
    """Adversarial embeddings the generated testdata never produces:
    the zero vector (undefined cosine -> NULL, not a divide-by-zero
    crash), denormal-scale values, exact duplicates with different
    labels. Sweep every embeddings-only registry query."""
    import re as _re

    import duckdb
    import numpy as np

    from minispark_spark.sources.tables import TABLES
    from tests.oracle_check import compare_query

    rng = np.random.default_rng(7)
    rows = [(0, [0.0] * 64, 0), (1, [1e-30] * 64, 0),
            (2, [0.5] * 64, 1), (3, [0.5] * 64, 2)]
    for i in range(4, 40):
        rows.append(
            (i, [float(x) for x in rng.normal(0, 1, 64).astype("float32")], int(i % 3))
        )
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet/*.parquet'"
    )
    others = [t for t in TABLES if t != "embeddings"]
    names = sorted(
        name
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
        and "embeddings" in spec.oracle.lower()
        and not any(_re.search(rf"\b{t}\b", spec.oracle.lower()) for t in others)
    )
    assert len(names) >= 10
    failures = []
    for name in names:
        try:
            ok, msg = compare_query(spark, con, name, d)
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"{type(e).__name__}: {e}"
        if not ok:
            failures.append(f"{name}: {msg[:200]}")
    assert not failures, "\n".join(failures)


@pytest.mark.usefixtures("release_shared")
def test_edge_events_oracle_parity(spark, tmp_path):
    """Adversarial events: same-timestamp ties, gaps exactly at the
    session threshold (caught a session_window oracle semantics bug:
    Spark MERGES events exactly gap-apart), single-row groups (sample
    variance/stddev/slope now NULL, not divide-by-zero), zero spread,
    malformed/empty/NULL JSON props, non-integer JSON values. Sweep
    every events-only registry query."""
    import datetime as dt
    import re as _re

    import duckdb

    from minispark_spark.sources.tables import TABLES
    from tests.oracle_check import compare_query

    T = dt.datetime(2024, 1, 10, 12, 0, 0)
    S = dt.timedelta
    rows = [
        (1, T, 1, "click", 1.0, '{"k": 1}'),
        (2, T, 1, "view", 2.0, '{"k": 2}'),          # same-ts tie
        (3, T, 2, "click", 0.0, '{"k": 3}'),
        (4, T + S(minutes=30), 2, "view", -5.5, '{"k": 4}'),   # exact gap
        (5, T + S(minutes=60), 2, "purchase", 100.0, "{}"),    # empty json
        (6, T + S(days=1), 3, "error", -0.0, "not json"),      # malformed
        (7, T, 4, "click", 1.5, '{"k": 5}'),
        (8, T + S(microseconds=1), 4, "view", 1.5, '{"k": 6}'),
        (9, T + S(microseconds=2), 4, "purchase", 1.5, None),  # NULL props
        (10, T + S(hours=5), 4, "signup", 3.25, '{"k": "str"}'),  # non-int k
        (11, T + S(hours=6), 5, "view", 80.0, '{"k": 99}'),
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet/*.parquet'"
    )
    others = [t for t in TABLES if t != "events"]
    # Writers/layout queries manage their own sf-dir-derived state and
    # have dedicated tests.
    skip = {"events_cdc_upsert", "snapshot_read_committed", "zorder_pruned_scan"}
    names = sorted(
        name
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
        and name not in skip
        and _re.search(r"\bevents\b", spec.oracle.lower())
        and not any(_re.search(rf"\b{t}\b", spec.oracle.lower()) for t in others)
    )
    assert len(names) >= 18
    failures = []
    for name in names:
        try:
            ok, msg = compare_query(spark, con, name, d)
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"{type(e).__name__}: {e}"
        if not ok:
            failures.append(f"{name}: {msg[:200]}")
    assert not failures, "\n".join(failures)


@pytest.mark.usefixtures("release_shared")
def test_empty_tables_oracle_parity(spark, tmp_path):
    """Every registry query must handle FULLY EMPTY tables (the empty
    partition / empty day every production pipeline eventually feeds)
    without crashing, and still match its oracle. Caught: k-means/IVF
    training on an empty corpus, PageRank integer division by zero,
    audit-ratio divide-by-zero."""
    import duckdb

    from minispark_spark.sources.tables import TABLES, load_table
    from tests.oracle_check import compare_query

    src = "/root/testdata/sf0.001"
    d = str(tmp_path)
    for t in TABLES:
        load_table(spark, src, t).limit(0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/{t}.parquet")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet/*.parquet'")
    skip = {
        # writers manage their own sf-dir-derived state (own tests)
        "events_cdc_upsert", "snapshot_read_committed", "zorder_pruned_scan",
        "blockfile_roundtrip",
        # Known engine divergence: per the SQL standard (and DuckDB), the
        # grand-total grouping set emits one zero-count row even over
        # empty input; Spark emits none. We follow Spark.
        "grouping_cube", "grouping_rollup", "grouping_sets_custom",
    }
    failures = []
    for name in sorted(REGISTRY):
        if name in skip:
            continue
        try:
            ok, msg = compare_query(spark, con, name, d)
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"{type(e).__name__}: {e}"
        if not ok:
            failures.append(f"{name}: {msg[:160]}")
    assert not failures, "\n".join(failures)


@pytest.mark.usefixtures("release_shared")
def test_single_row_tables_oracle_parity(spark, tmp_path):
    """One row per table (so joins find no FK partners and every group
    has exactly one member): the degenerate-statistics case that broke
    Pearson correlation. Sweep the whole registry."""
    import duckdb

    from minispark_spark.sources.tables import TABLES, load_table
    from tests.oracle_check import compare_query

    d = str(tmp_path)
    for t in TABLES:
        load_table(spark, "/root/testdata/sf0.001", t).limit(1).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/{t}.parquet")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet/*.parquet'")
    skip = {
        "events_cdc_upsert", "snapshot_read_committed", "zorder_pruned_scan",
        "blockfile_roundtrip",
        "grouping_cube", "grouping_rollup", "grouping_sets_custom",
    }
    failures = []
    for name in sorted(REGISTRY):
        if name in skip:
            continue
        try:
            ok, msg = compare_query(spark, con, name, d)
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"{type(e).__name__}: {e}"
        if not ok:
            failures.append(f"{name}: {msg[:160]}")
    assert not failures, "\n".join(failures)


def test_engine_corpus_surface(spark, sf_dir):
    """Engine.corpus opens a path as a Corpus facade."""
    from minispark_spark.engine import Engine

    with Engine(spark=spark) as eng:
        c = eng.corpus(f"{sf_dir}/documents.parquet")
        n = c.filter_quality(0.2).df.count()
        assert 0 < n <= 500


def test_pack_matches_registry(spark, sf_dir):
    got = sorted(
        tuple(r) for r in Corpus(_docs(spark, sf_dir)).pack(256).collect()
    )
    want = sorted(
        tuple(r)
        for r in REGISTRY["docs_sequence_packing"].fn(spark, sf_dir).collect()
    )
    assert got == want


@pytest.mark.usefixtures("release_shared")
def test_unicode_docs_oracle_parity(spark, tmp_path):
    """Non-ASCII corpora (accents, CJK, Cyrillic, emoji): the polynomial
    hash folds Unicode CODEPOINTS identically in both engines (Spark
    ascii() == DuckDB ascii() == codepoint of first char), so dedup /
    fingerprint / BPE / tokenization all stay bit-exact. multimodal_*
    queries are excluded: their oracles replay the byte-level decode
    from text under an ASCII (byte == codepoint) assumption — the
    engine path operates on real utf-8 bytes and is correct; the SQL
    replay is what can't express multi-byte text."""
    import re as _re

    import duckdb

    from minispark_spark.sources.tables import TABLES
    from tests.oracle_check import compare_query

    edge = [
        (0, "héllo wörld ünïcode tëxt with åccents ünïcode wörld répeat wörld",
         "de", "src1", 60),
        (1, "中文 文本 测试 数据 中文 文本 去重 测试 样本 中文", "zh", "src1", 30),
        (2, "emoji 🙂 test 🚀 rocket 🙂 again and ünïcode mix here too",
         "en", "src2", 50),
        (3, "русский текст для проверки дедупликации и хэширования текста",
         "ru", "src2", 60),
        (4, "plain ascii control doc with several plain ascii tokens here",
         "en", "src0", 60),
        (5, "héllo wörld ünïcode tëxt with åccents ünïcode wörld répeat wörld",
         "de", "src3", 60),  # exact duplicate of doc 0
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        edge, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    others = [t for t in TABLES if t != "documents"]
    names = sorted(
        name
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
        and "documents" in spec.oracle.lower()
        and not name.startswith("multimodal_")
        and not any(_re.search(rf"\b{t}\b", spec.oracle.lower()) for t in others)
    )
    assert len(names) >= 30
    failures = []
    for name in names:
        try:
            ok, msg = compare_query(spark, con, name, d)
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"{type(e).__name__}: {e}"
        if not ok:
            failures.append(f"{name}: {msg[:200]}")
    assert not failures, "\n".join(failures)
    # sanity: the exact-dup pair must actually be caught on unicode text
    dup = REGISTRY["dedup_exact"].fn(spark, d).filter("n_copies >= 2").collect()
    assert len(dup) == 1 and dup[0]["keeper_doc_id"] == 0


def test_scrub_spans_matches_registry(spark, sf_dir):
    got = {
        (r["doc_id"], r["text"])
        for r in Corpus(_docs(spark, sf_dir)).scrub_spans().df.select("doc_id", "text").collect()
    }
    want = {
        (r["doc_id"], r["clean_text"])
        for r in REGISTRY["docs_span_scrub"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_select_dsir_matches_registry(spark, sf_dir):
    kept = {
        r["doc_id"]
        for r in Corpus(_docs(spark, sf_dir)).select_dsir(F.col("lang") == "en").df.collect()
    }
    want = {
        r["doc_id"]
        for r in REGISTRY["docs_dsir_select"].fn(spark, sf_dir).collect()
        if r["keep"]
    }
    assert kept == want
    assert len(kept) == 125  # exactly the top quarter of 500


def test_token_budget_matches_registry(spark, sf_dir):
    from minispark_spark.plans.quality import TOKEN_BUDGET_PER_SOURCE

    kept = {
        r["doc_id"]
        for r in Corpus(_docs(spark, sf_dir))
        .token_budget(TOKEN_BUDGET_PER_SOURCE)
        .df.collect()
    }
    want = {
        r["doc_id"]
        for r in REGISTRY["docs_token_budget_mixture"].fn(spark, sf_dir).collect()
        if r["keep"]
    }
    assert kept == want
    assert 0 < len(kept) < 500


def test_dedup_semantic_matches_registry(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    docs = emb.select("doc_id")  # a corpus keyed like the embeddings
    kept = {r["doc_id"] for r in Corpus(docs).dedup_semantic(emb).df.collect()}
    want = {
        r["vec_id"]
        for r in REGISTRY["semantic_dedup"].fn(spark, sf_dir).collect()
        if r["keep"]
    }
    assert kept == want
    assert 0 < len(kept) < 500


def test_exact_fuzzy_pairs_match_registry(spark, sf_dir):
    got = sorted(
        tuple(r)
        for r in Corpus(_docs(spark, sf_dir)).exact_fuzzy_pairs().collect()
    )
    want = sorted(
        tuple(r)
        for r in REGISTRY["dedup_jaccard_prefix_filter"].fn(spark, sf_dir).collect()
    )
    assert got == want


def test_leakage_safe_split_keeps_clusters_whole(spark, sf_dir):
    """The point of docs_leakage_safe_split: every near-dup pair must
    land in ONE split (a per-doc hash split offers no such guarantee —
    each cross-cluster pair has a 2*(0.96*0.02 + 0.96*0.02 + 0.02*0.02)
    ≈ 7.8% chance of straddling splits)."""
    from pyspark.sql import functions as F

    from minispark_spark.functions import hashing
    from minispark_spark.operators.dedup import dedup_minhash_lsh
    from minispark_spark.operators.graph_api import connected_components_labels

    pairs_df = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    sym = pairs_df.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).unionByName(
        pairs_df.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
    )
    from minispark_spark.sources.tables import load_table

    # Per-doc assignment exactly as the query computes it (coalesce to
    # the doc's own id for singletons).
    labels = connected_components_labels(sym).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    c = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    bucket = hashing.poly_hash(c.cast("string")) % 100
    split = (
        F.when(bucket < 96, F.lit("train"))
        .when(bucket < 98, F.lit("val"))
        .otherwise("test")
    )
    assigned = docs.join(labels, "doc_id", "left").select(
        "doc_id", split.alias("split")
    )
    pairs = pairs_df.collect()
    assert len(pairs) > 0  # the guarantee must actually be exercised
    by_doc = {r["doc_id"]: r["split"] for r in assigned.collect()}
    for r in pairs:
        assert by_doc[r["doc_a"]] == by_doc[r["doc_b"]], (
            r["doc_a"], r["doc_b"])


def test_corpus_dedup_lines_matches_registry(spark, sf_dir):
    """Corpus.dedup_lines' re-assembled text must equal the registry
    query's cleaned_text for every doc that keeps any sentence."""
    got = {
        r["doc_id"]: r["text"]
        for r in Corpus(_docs(spark, sf_dir)).dedup_lines().df.collect()
    }
    want = {
        r["doc_id"]: r["cleaned_text"]
        for r in REGISTRY["docs_c4_line_dedup"].fn(spark, sf_dir).collect()
        if r["n_kept"] > 0
    }
    assert got == want


def test_corpus_split_leakage_safe_matches_registry(spark, sf_dir):
    """The facade's per-doc assignment aggregates to the registry
    query's per-split (n_docs) exactly."""
    from pyspark.sql import functions as F

    got = {
        r["split"]: r["n"]
        for r in Corpus(_docs(spark, sf_dir))
        .split_leakage_safe()
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    want = {
        r["split"]: r["n_docs"]
        for r in REGISTRY["docs_leakage_safe_split"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_corpus_gopher_matches_registry(spark, sf_dir):
    """Corpus.gopher_metrics / filter_gopher must agree with the
    oracle-verified docs_gopher_quality registry query, and the filter
    must keep exactly the keep=true ids without adding metric cols."""
    reg = {
        r["doc_id"]: (r["n_words"], r["stop_hits"], r["keep"])
        for r in REGISTRY["docs_gopher_quality"].fn(spark, sf_dir).collect()
    }
    corpus = Corpus(_docs(spark, sf_dir))
    got = {
        r["doc_id"]: (r["n_words"], r["stop_hits"], r["keep"])
        for r in corpus.gopher_metrics().collect()
    }
    assert got == reg
    filtered = corpus.filter_gopher().df
    assert set(filtered.columns) == set(corpus.df.columns)
    kept = {r["doc_id"] for r in filtered.select("doc_id").collect()}
    assert kept == {d for d, (_, _, k) in reg.items() if k}


def test_corpus_winnow_pairs_matches_registry(spark, sf_dir):
    got = {
        (r["doc_a"], r["doc_b"]): r["shared"]
        for r in Corpus(_docs(spark, sf_dir)).winnow_pairs().collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): r["shared"]
        for r in REGISTRY["docs_winnow_match"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_readability_matches_registry(spark, sf_dir):
    from minispark_spark.corpus import Corpus
    from minispark_spark.registry import REGISTRY
    from minispark_spark.sources.tables import load_table

    got = {r["doc_id"]: (r["n_words"], r["n_syllables"], r["flesch"])
           for r in Corpus(load_table(spark, sf_dir, "documents")).readability().collect()}
    want = {r["doc_id"]: (r["n_words"], r["n_syllables"], r["flesch"])
            for r in REGISTRY["docs_readability"].fn(spark, sf_dir).collect()}
    assert got == want


def test_classify_nb_matches_registry(spark, sf_dir):
    got = {
        r["doc_id"]: (r["pred_lang"], r["score"])
        for r in Corpus(load_table(spark, sf_dir, "documents")).classify_nb().collect()
    }
    want = {
        r["doc_id"]: (r["pred_lang"], r["score"])
        for r in REGISTRY["docs_nb_classify"].fn(spark, sf_dir).collect()
    }
    assert got == want and got


def test_select_features_chi2_matches_registry(spark, sf_dir):
    got = [
        (r["tok"], r["chi2"])
        for r in Corpus(load_table(spark, sf_dir, "documents"))
        .select_features_chi2()
        .collect()
    ]
    want = [
        (r["tok"], r["chi2"])
        for r in REGISTRY["docs_token_chi2_topk"].fn(spark, sf_dir).collect()
    ]
    assert got == want and got
