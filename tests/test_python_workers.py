"""Python workers import pyspark from the installed package.

Spark puts its own ``pyspark.zip``, the py4j zip and the spark-core jar
first on the workers' path; on Python 3.11 every task's
``importlib.invalidate_caches()`` then re-reads those archives'
directories (136-193 ms per task). ``minispark_spark.worker_daemon``
drops them when the installed pyspark is the same copy.
"""

from __future__ import annotations

import os
import sys
import zipfile

import pandas as pd
import pyspark

from minispark_spark.worker_daemon import worker_path

# Spark's archives as they appear on a worker's path; these do not exist.
SPARK_ARCHIVES = ("/spark/python/lib/pyspark.zip", "/spark/python/lib/py4j-0.10.9.9-src.zip",
                  "/spark/jars/spark-core_2.13-4.1.2.jar")


def _archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return name.endswith(".jar") or (name.endswith(".zip") and name.startswith(("pyspark", "py4j")))


def _worker_imports(batches):
    import sys
    import zipimport

    import pyspark

    for _ in batches:
        pass
    zips = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
    yield pd.DataFrame({"kind": ["file"] + ["path"] * len(sys.path) + ["zip"] * len(zips),
                        "value": [pyspark.__file__, *sys.path, *zips]})


def test_worker_loads_installed_pyspark_and_no_spark_archive(spark):
    rows = spark.range(500, numPartitions=1).mapInPandas(_worker_imports, "kind string, value string").collect()
    by_kind: dict[str, list[str]] = {}
    for r in rows:
        by_kind.setdefault(r.kind, []).append(r.value)
    (worker_file,) = by_kind["file"]
    assert os.path.dirname(worker_file) == os.path.dirname(pyspark.__file__)
    assert not [p for p in by_kind["path"] + by_kind.get("zip", []) if _archive(p)]


def _package(root, name: str, version: str | None = None) -> None:
    pkg = root / name
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    if version is not None:
        (pkg / "version.py").write_text(f"__version__: str = {version!r}\n")


def _synthetic(tmp_path, monkeypatch) -> list[str]:
    monkeypatch.setattr(sys, "path_importer_cache", {})
    return [str(tmp_path / "cwd"), *SPARK_ARCHIVES, "/usr/lib/python311.zip", str(tmp_path / "deps.zip"),
            str(tmp_path / "site")]


def test_filter_keeps_everything_without_installed_pyspark(tmp_path, monkeypatch):
    path = _synthetic(tmp_path, monkeypatch)
    _package(tmp_path / "site", "py4j")
    assert worker_path(path) == path


def test_filter_keeps_everything_without_installed_py4j(tmp_path, monkeypatch):
    path = _synthetic(tmp_path, monkeypatch)
    _package(tmp_path / "site", "pyspark", "4.1.2")
    assert worker_path(path) == path


def test_filter_drops_only_spark_archives(tmp_path, monkeypatch):
    path = _synthetic(tmp_path, monkeypatch)
    _package(tmp_path / "site", "pyspark", "4.1.2")
    _package(tmp_path / "site", "py4j")
    with zipfile.ZipFile(tmp_path / "deps.zip", "w") as z:
        z.writestr("helpers/__init__.py", "")
    assert worker_path(path) == [path[0], "/usr/lib/python311.zip", str(tmp_path / "deps.zip"), path[-1]]


def test_filter_keeps_everything_when_versions_differ(tmp_path, monkeypatch):
    site = tmp_path / "site"
    _package(site, "pyspark", "4.0.0")
    _package(site, "py4j")
    spark_zip = tmp_path / "lib" / "pyspark.zip"
    spark_zip.parent.mkdir()
    with zipfile.ZipFile(spark_zip, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", "__version__: str = '4.1.2'\n")
    monkeypatch.setattr(sys, "path_importer_cache", {})
    path = [str(spark_zip), str(site)]
    assert worker_path(path) == path
