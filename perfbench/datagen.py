"""Deterministic input tables for the benchmark.

The benchmark must not depend on data outside its checkout, so it
generates its own tables with the same schemas and value domains as
the repository's synthetic test data (TESTDATA.md): TPC-H-style
dimension and fact tables with ``NATION_<k>`` nation names and six
part types, a month of click events, a small text corpus in which one
document in twenty is an earlier document plus `` dup``, and unit-norm
64-d embeddings around ten labelled centres. Every column is drawn
independently from a fixed-seed generator, so the same code always
writes the same rows.

``replicate`` builds the ``tpch_x10`` layout: ``lineitem`` and
``orders`` copied R times with a per-replica order-key offset, so
joins on order key stay one-to-one within a replica, and every other
table copied unchanged, so nation names, part types and customer keys
keep their domains.

Tables are written as directories of parquet parts (``<table>.parquet/
part-NNN.parquet``): a single-row-group file would scan as one task.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
MAX_PARTS = 8
ROWS_PER_PART = 25_000
KEY_OFFSET = 1_000_000_000

_WORDS = (
    "a the spark line column order small sort fast value scan hash slow group"
    " batch part vector query agg table filter customer stream key window join"
    " merge big data row"
).split()
_LANGS = np.array(["en", "zh", "de", "fr", "es"])
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_PART_ADJ = np.array("blue old small new large hot cold red".split())
_PART_NOUN = np.array("widget gizmo ring gear bolt plate rod anvil".split())
_PART_TYPES = np.array("ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split())
_SEGMENTS = np.array("MACHINERY AUTOMOBILE HOUSEHOLD BUILDING FURNITURE".split())
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array("click error purchase signup view".split())
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    path = os.path.join(out_dir, f"{name}.parquet")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    parts = max(1, min(MAX_PARTS, table.num_rows // ROWS_PER_PART))
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def tpch_tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li = 4 * n_ord
    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    keys = np.arange(n_part)
    part = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": np.char.add(
                np.char.add(_PART_ADJ[rng.integers(0, 8, n_part)], " "),
                _PART_NOUN[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": _PART_TYPES[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995, order_days * _DAY_US),
            "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)],
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(_EPOCH_1995, rng.integers(1, 2499, n_li) * _DAY_US),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def extra_tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_ev, n_users = int(1_000_000 * sf), max(15, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(_EPOCH_2024, np.sort(rng.integers(0, 30 * _DAY_US, n_ev))),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _EVENT_TYPES[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n)))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": _LANGS[rng.choice(5, n_docs, p=_LANG_P)],
            "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centres = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centres[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return {"events": events, "documents": documents, "embeddings": embeddings}


def _fingerprint(*parts: object) -> str:
    h = hashlib.sha1()
    with open(__file__, "rb") as f:
        h.update(f.read())
    h.update(repr(parts).encode())
    return h.hexdigest()


def _fresh(out_dir: str, stamp: str) -> bool:
    path = os.path.join(out_dir, ".stamp")
    return os.path.exists(path) and open(path).read() == stamp


def _publish(out_dir: str, stamp: str) -> None:
    with open(os.path.join(out_dir, ".stamp"), "w") as f:
        f.write(stamp)


def generate(out_dir: str, sf: float) -> str:
    """Write every table at scale ``sf`` into ``out_dir`` (skipped when
    the directory already holds this generator's output for ``sf``)."""
    stamp = _fingerprint("base", sf)
    if _fresh(out_dir, stamp):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(SEED)
    for name, table in {**tpch_tables(sf, rng), **extra_tables(sf, rng)}.items():
        _write(out_dir, name, table)
    _publish(out_dir, stamp)
    return out_dir


def replicate(src_dir: str, out_dir: str, copies: int) -> str:
    """Write the TPC-H tables of ``src_dir`` into ``out_dir`` with
    ``lineitem``/``orders`` replicated ``copies`` times; replica k adds
    ``k * KEY_OFFSET`` to the order key. Keyed by the source's stamp
    file mtime, so regenerating the source invalidates the copy."""
    stamp = _fingerprint("replicate", copies, os.path.getmtime(os.path.join(src_dir, ".stamp")))
    if _fresh(out_dir, stamp):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    key_col = {"orders": "o_orderkey", "lineitem": "l_orderkey"}
    for name in TPCH_TABLES:
        table = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        if name in key_col:
            col = table.column(key_col[name]).to_numpy()
            i = table.schema.get_field_index(key_col[name])
            table = pa.concat_tables(
                table.set_column(i, key_col[name], pa.array(col + k * KEY_OFFSET, pa.int64()))
                for k in range(copies)
            )
        _write(out_dir, name, table)
    _publish(out_dir, stamp)
    return out_dir
