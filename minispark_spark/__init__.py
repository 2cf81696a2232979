"""minispark_spark — a PySpark-native analytics engine.

A brand-new, idiomatic PySpark implementation of the query and
data-processing capabilities of the reference engine
(david-westreicher/minispark, surveyed in SURVEY.md), plus the
large-scale training-data-pipeline operators (dedup, similarity
search, text analysis, multimodal plumbing) that the reference lacks.

Architecture stance (SURVEY.md §7): we do NOT rebuild
parser/planner/stages/codegen — Catalyst + Tungsten are the engine.
This package is:

- ``engine`` / ``dataframe``: a thin facade mirroring the reference's
  user API (``Engine.sql()``, ``DataFrame.select/filter/join/group_by``,
  dict-row ``collect()``) over ``pyspark.sql``.
- ``sql_dialect``: pre-pass translating the reference's SQL quirks
  (quoted-path ``FROM 'x'`` tables, bare ``COUNT()``) to Spark SQL.
- ``plans``: the relational query inventory (TPC-H-ish parity queries).
- ``operators``: dedup (exact / MinHash-LSH / SimHash / n-gram
  Jaccard / embedding), similarity search, as-of style extensions.
- ``functions``: reusable expression builders (text stats, language
  ID, deterministic hashing, vector math) — all built-in-function
  compositions that stay JVM-side.
- ``sources``: ingestion helpers (CSV → parquet, table catalogs).
- ``streaming``: Structured Streaming pipelines over the events table.
- ``multimodal``: binary-column (image/audio) plumbing with stubbed
  decoders.
"""

__all__ = ["Engine", "get_spark"]


def __getattr__(name: str):
    # Lazy (PEP 562): importing the package must not import pyspark, because
    # ``python -m minispark_spark.worker_daemon`` runs this first and has to
    # filter the worker's path before pyspark is loaded.
    if name == "Engine":
        from minispark_spark.engine import Engine

        return Engine
    if name == "get_spark":
        from minispark_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
