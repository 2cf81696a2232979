"""Query registry — the single source of truth for the correctness gate.

Every implemented operator gets a named entry: a Spark callable
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) an
equivalent DuckDB oracle SQL string. ``__spark_entry__.py`` exposes
this registry to the driver.

Determinism contract (so Spark and DuckDB hash-match bit-for-bit):

- Float aggregates go through a DECIMAL intermediate and are cast back
  to DOUBLE (``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)``) —
  decimal addition is exact, so summation order can't perturb bits.
- Single-op float math (one multiply, one divide, sqrt) is IEEE-exact
  and needs no special handling.
- Sequential folds (string hashes, dot products) use identical
  left-to-right double/bigint folds in both engines (verified
  bitwise-identical).
- Column names are aliased identically on both sides; output types are
  pinned with explicit casts where the engines' defaults differ
  (e.g. DuckDB ``year()`` returns BIGINT, Spark returns INT).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


# Runtime-settable confs every query depends on, applied defensively in
# case the caller's session (e.g. the driver's own SparkSession) was
# built without them. UTC matters most: timestamp results must agree
# with the DuckDB oracle regardless of the host timezone.
_SESSION_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # No-tz parquet timestamps read as TIMESTAMP (UTC instant), not
    # TIMESTAMP_NTZ — NTZ rejects epoch casts and diverges from the
    # DuckDB oracle's naive-UTC interpretation.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Bucketed scans honor SORTED BY metadata (the bucketed TPC-H twins
    # need it to plan SortMergeJoin with neither Exchange nor Sort);
    # only affects tables written bucketed+sorted, no-op elsewhere.
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
}

_SHARED: dict[tuple, object] = {}
_KEY_LOCKS: dict[tuple, threading.Lock] = {}
_SESSIONS: dict[str, SparkSession] = {}
_LOCK = threading.Lock()  # guards the three dicts above, never a build
_MISSING = object()

T = TypeVar("T")


def shared(spark: SparkSession, key: tuple, build: Callable[[], T]) -> T:
    """``build()``, memoized per ``(applicationId, *key)`` until
    :func:`clear_plan_cache` — the one store for plans and for the
    intermediates several queries share (shingles, graph edges, k-means
    and PQ trainings). Each key builds once even when threads ask at
    the same time; the lock is per key, so a build may ask for other
    keys. A build that raises leaves no entry."""
    full = (spark.sparkContext.applicationId, *key)
    with _LOCK:
        _SESSIONS[full[0]] = spark
        lock = _KEY_LOCKS.setdefault(full, threading.Lock())
    with lock:
        value = _SHARED.get(full, _MISSING)
        if value is _MISSING:
            value = _SHARED[full] = build()
        return value  # type: ignore[return-value]


def _memoized(name: str, fn: QueryFn) -> QueryFn:
    """Plan reuse across invocations of the same (session, sf_dir, query)
    — a prepared statement. DataFrames are immutable so sharing is safe;
    mirrors the reference's once-compiled-per-query native binary being
    reused across its timed runs (reference execution.py:100-115)."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        def build() -> DataFrame:
            for k, v in _SESSION_DEFAULTS.items():
                spark.conf.set(k, v)
            return fn(spark, sf_dir)

        return shared(spark, ("plan", sf_dir, name), build)

    return wrapped


def clear_plan_cache() -> None:
    """Drop every :func:`shared` entry, then clear Spark's cache in each
    session that used the store and is still running. The two go
    together: a memoized plan whose ``.cache()`` marks were unpersisted
    re-executes each multiply-referenced subtree once per reference
    (simhash scans its signature frame 3x, minhash its shingles 4x), and
    a dropped handle whose storage stays cached pins executor memory."""
    with _LOCK:
        _SHARED.clear()
        _KEY_LOCKS.clear()
        sessions = list(_SESSIONS.values())
    for s in sessions:
        if s.sparkContext._jsc is not None:  # stopped contexts have none
            s.catalog.clearCache()


def query(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator registering a query implementation."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=_memoized(name, fn), oracle=oracle, doc=doc or (fn.__doc__ or "")
        )
        return fn

    return deco


# Capability gates pinned to the driver-sample head THIS round (update
# each round): the round's flagship work gets a driver-emitted
# CORRECTNESS row immediately, not rounds later.
_ROUND_NEW = frozenset(
    {
        # r6 verdict item #2: the ONE remaining sampled-but-never-green
        # entry (r1 row was `err: no_oracle`; a full DuckDB oracle was
        # added in r2 and it is local-green since). Never-GREEN names
        # now auto-front-load (driver_sampled.DRIVER_GREEN), but the
        # pin puts it in the high-priority bucket so a strict 50-name
        # sample is guaranteed to reach it.
        "approx_distinct_rollup_hll",
    }
)

# Last session's additions not yet driver-green: none — r7 adds no new
# registry entries (r6 verdict item #1 caps growth below the ~50/round
# verification rate while the 110-name backlog burns down).
_SESSION_NEW: frozenset[str] = frozenset()


def _driver_priority_names() -> list[str]:
    """Registry names ordered for the driver: entries that have never
    had a driver-emitted GREEN CORRECTNESS row (err null + all three
    match flags true) come first, previously-verified names after. The
    driver samples ~50 queries per round in iteration order, so this
    makes each round's sample maximally informative AND automatically
    re-surfaces red/errored rows (a name sampled red stays in the head
    until it turns green — the r5 `agg_collect_sorted` lesson, VERDICT
    r6 item #3). Ledger: minispark_spark/driver_sampled.py
    (regenerate with tools/update_driver_sampled.py)."""
    from minispark_spark.driver_sampled import DRIVER_GREEN

    def bucket(name: str) -> int:
        # Within the never-sampled group, the highest-value names lead
        # (a ~50-query sample should capture the flagship TPC-H suite,
        # the core relational operators, windows, and the stats family
        # before extension polish).
        if name == "q1_pricing_summary":
            return 0
        if name[0] == "q" and name[1].isdigit():
            return 1  # TPC-H q2..q22 + bucketed twins
        if name.startswith(("join_", "self_join", "order_by_limit", "agg_")):
            return 2
        if name in _ROUND_NEW:
            return 3  # this round's new capability gates — the verdict
            # asks for a driver-emitted row for each by name
        if name in _SESSION_NEW:
            return 6  # behind the verdict-pinned window/stats families
            # (checked first: stats_gd_linear_fit is session-new AND
            # stats_-prefixed)
        if name.startswith(("window_", "stats_")):
            return 4  # verdict-pinned families — ahead of set-ops so a
            # strict 50-name sample still reaches them
        if name.startswith(("union_", "intersect_", "distinct_")):
            return 5
        return 7

    def head(name: str) -> bool:
        # Never-green names lead (a RED row no longer hides a name the
        # way the old sampled-union split did); _ROUND_NEW additionally
        # forces re-verification of an already-green name when a round
        # changes its semantics.
        return name not in DRIVER_GREEN or name in _ROUND_NEW

    fresh = sorted(
        (n for n in REGISTRY if head(n)),
        key=lambda n: bucket(n),
    )  # sorted() is stable: registration order preserved within buckets
    seen = [n for n in REGISTRY if not head(n)]
    return fresh + seen


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: REGISTRY[name].fn for name in _driver_priority_names()}


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {
        name: REGISTRY[name].oracle
        for name in _driver_priority_names()
        if REGISTRY[name].oracle is not None
    }


_loaded = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _loaded
    if _loaded:
        return
    import minispark_spark.multimodal.binary  # noqa: F401
    import minispark_spark.operators.asof  # noqa: F401
    import minispark_spark.operators.bpe  # noqa: F401
    import minispark_spark.operators.dedup  # noqa: F401
    import minispark_spark.operators.graph  # noqa: F401
    import minispark_spark.operators.ivfpq  # noqa: F401
    import minispark_spark.operators.kmeans  # noqa: F401
    import minispark_spark.operators.pca  # noqa: F401
    import minispark_spark.operators.pq  # noqa: F401
    import minispark_spark.operators.semdedup  # noqa: F401
    import minispark_spark.operators.sharding  # noqa: F401
    import minispark_spark.operators.similarity  # noqa: F401
    import minispark_spark.operators.vecindex  # noqa: F401
    import minispark_spark.operators.skyline  # noqa: F401
    import minispark_spark.operators.winnow  # noqa: F401
    import minispark_spark.plans.audit  # noqa: F401
    import minispark_spark.plans.classify  # noqa: F401
    import minispark_spark.plans.events  # noqa: F401
    import minispark_spark.plans.interop  # noqa: F401
    import minispark_spark.plans.pipeline  # noqa: F401
    import minispark_spark.plans.quality  # noqa: F401
    import minispark_spark.plans.relational  # noqa: F401
    import minispark_spark.plans.tpch  # noqa: F401
    import minispark_spark.plans.tpch_bucketed  # noqa: F401
    import minispark_spark.plans.text  # noqa: F401
    import minispark_spark.plans.web  # noqa: F401
    import minispark_spark.streaming.bounded  # noqa: F401
    import minispark_spark.streaming.neardup  # noqa: F401
    import minispark_spark.streaming.quality  # noqa: F401

    _loaded = True
