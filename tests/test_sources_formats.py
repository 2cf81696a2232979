"""Round-trip tests for the JSONL and ORC source/sink helpers."""

from __future__ import annotations

import os

from minispark_spark.sources import formats
from minispark_spark.sources.tables import load_table

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sorted_rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_jsonl_round_trip(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    jl = str(tmp_path / "nation_jsonl")
    pq = str(tmp_path / "nation_pq")
    formats.write_jsonl(nation, jl)
    back = formats.convert_jsonl_to_parquet(spark, jl, pq, schema=nation.schema)
    assert back.schema == nation.schema
    cols = nation.columns
    assert _sorted_rows(back, *cols) == _sorted_rows(nation, *cols)


def test_orc_round_trip(spark, sf_dir, tmp_path):
    supp = load_table(spark, sf_dir, "supplier")
    oc = str(tmp_path / "supp_orc")
    pq = str(tmp_path / "supp_pq")
    formats.write_orc(supp, oc)
    back = formats.convert_orc_to_parquet(spark, oc, pq)
    cols = supp.columns
    assert back.columns == cols
    assert _sorted_rows(back, *cols) == _sorted_rows(supp, *cols)


def test_governed_lakehouse_example_runs():
    """The end-to-end governance demo must stay runnable (it is the
    narrative glue for the audit/upsert/diff/delete/quantile family)."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "examples/governed_lakehouse.py", "/root/testdata/sf0.001"],
        capture_output=True,
        text=True,
        timeout=240,
        cwd=ROOT,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "versions retained: [1, 2, 3], committed: 3" in r.stdout
