"""registry.shared is the one session memo: each key builds once under
concurrent callers, a failed build leaves nothing behind, and
clear_plan_cache releases every cached frame the registry queries made."""

from __future__ import annotations

import sys
import threading
import time

import pytest

from minispark_spark import registry


class _Catalog:
    def __init__(self, running: bool):
        self.running = running
        self.clears = 0

    def clearCache(self) -> None:
        if not self.running:
            raise RuntimeError("clearCache on a stopped context")
        self.clears += 1


class _Context:
    def __init__(self, app_id: str, running: bool):
        self.applicationId = app_id
        self._jsc = object() if running else None  # SparkContext.stop() sets None


class _Session:
    """The parts of a SparkSession that registry.shared touches."""

    def __init__(self, app_id: str, running: bool = True):
        self.sparkContext = _Context(app_id, running)
        self.catalog = _Catalog(running)


@pytest.fixture
def fresh_store(monkeypatch):
    """An empty store, so fake sessions never meet the real ones."""
    monkeypatch.setattr(registry, "_SHARED", {})
    monkeypatch.setattr(registry, "_KEY_LOCKS", {})
    monkeypatch.setattr(registry, "_SESSIONS", {})


def test_each_key_builds_once_under_threads(fresh_store):
    spark = _Session("app-threads")
    builds = []

    def build():
        builds.append(1)
        time.sleep(0.05)
        return object()

    start = threading.Barrier(8)
    got = []

    def worker():
        start.wait(timeout=10)
        got.append(registry.shared(spark, ("k",), build))

    threads = [threading.Thread(target=worker) for _ in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert len(got) == 8 and all(g is got[0] for g in got)

    # A build may ask for another key without deadlocking.
    nested = registry.shared(spark, ("outer",), lambda: registry.shared(spark, ("inner",), lambda: 1) + 1)
    assert nested == 2

    def fail():
        builds.append(1)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        registry.shared(spark, ("bad",), fail)
    with pytest.raises(RuntimeError):
        registry.shared(spark, ("bad",), fail)
    assert len(builds) == 3
    assert registry.shared(spark, ("bad",), lambda: "ok") == "ok"


def test_clear_leaves_spark_cache_empty(spark, sf_dir):
    queries = registry.all_queries()
    for name in (
        "basket_association_rules",
        "graph_pagerank",
        "dedup_minhash_lsh",
        "kmeans_clusters",
    ):
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    registry.clear_plan_cache()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_clear_skips_stopped_sessions(fresh_store):
    live, stopped = _Session("app-live"), _Session("app-stopped", running=False)
    registry.shared(live, ("x",), lambda: 1)
    registry.shared(stopped, ("x",), lambda: 2)
    registry.clear_plan_cache()
    assert live.catalog.clears == 1
    assert stopped.catalog.clears == 0
    assert registry.shared(live, ("x",), lambda: 3) == 3
