"""Python worker daemon that imports PySpark from the installed package.

Spark starts its Python workers with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j zip and the spark-core jar first on ``PYTHONPATH``. Every task
then calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 each
``zipimporter`` answers that by re-reading its archive's directory: a
warm worker holds about 16 of them, which costs 136-193 ms per task.
When the interpreter's own path also has the same pyspark (and a py4j),
this daemon drops Spark's archives from ``sys.path`` and
``sys.path_importer_cache`` before it imports ``pyspark.daemon``. The
workers it forks inherit that path, load pyspark from the package, and
the per-task call drops to well under a millisecond.

``session.get_spark`` selects it with ``spark.python.daemon.module``.
Nothing here may import pyspark at module level: ``python -m`` runs this
module before the path is filtered.
"""

from __future__ import annotations

import os
import sys
from importlib.machinery import PathFinder


def _is_spark_archive(entry: str) -> bool:
    """A jar, ``pyspark*.zip`` or ``py4j*.zip`` path entry."""
    name = os.path.basename(entry)
    return name.endswith(".jar") or (name.endswith(".zip") and name.startswith(("pyspark", "py4j")))


def _pyspark_version(path: list[str]) -> bytes | None:
    """The ``pyspark/version.py`` an import of pyspark on ``path`` would load."""
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    return spec.loader.get_data(os.path.join(spec.submodule_search_locations[0], "version.py"))


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives, if the pyspark it then finds has
    the same ``version.py`` as the one ``path`` loads now and py4j is still
    found; otherwise ``path`` itself, unchanged."""
    kept = [p for p in path if not _is_spark_archive(p)]
    if len(kept) == len(path) or PathFinder.find_spec("py4j", kept) is None:
        return path
    version = _pyspark_version(kept)
    if version is None or version != _pyspark_version(path):
        return path
    return kept


def main() -> None:
    kept = worker_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]

    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
