"""Seeded generator for the benchmark's input tables.

Writes the ten tables the registered queries read (``region nation customer
supplier part orders lineitem events documents embeddings``) as one parquet
file each, with the schema, value domains and planted structure of the
synthetic test tables the package was built against: TPC-H-shaped
star-schema keys, money with two decimals, day-aligned timestamps, a
30-word document vocabulary with planted exact and near duplicates, and
unit-norm 64-dim embeddings with planted near-duplicate vectors.

The values are the same for every seed; the seed fixes the row order and
the row-group split of every file, so the same seed always yields
byte-identical inputs, and runs on different seeds do the same work on
differently laid-out files.  ``scale`` follows the TPC-H
scale factor: lineitem has ``6_000_000 * scale`` rows.

``replicas > 1`` adds key-strided copies of ``lineitem`` and ``part`` with
the stride and key columns of ``tools/gen_sf.py``, the repo's scale-up
generator, so replicas join within themselves and never across.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tools.gen_sf import KEY_COLS, KEY_STRIDE

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 8 + ["de", "es", "fr", "zh"] * 3
EMBED_DIM = 64
DAY_US = 86_400_000_000
VALUE_SEED = 20240101
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return EPOCH_1995 + rng.integers(lo, hi, n) * np.timedelta64(1, "D")


def _docs(rng: np.random.Generator, n: int) -> dict:
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # 5 % near duplicates (an earlier text plus one marker token) and a few
    # exact copies: the structure the dedup and curation flows look for.
    for i in rng.choice(np.arange(1, n), max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n), max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float64)
    # 5 % planted near duplicates of earlier vectors.
    for i in rng.choice(np.arange(1, n), max(1, n // 20), replace=False):
        vecs[i] = vecs[int(rng.integers(0, i))] + 0.01 * rng.standard_normal(EMBED_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def build_tables(scale: float) -> dict[str, dict]:
    """Column dicts for every table, before layout."""
    rng = np.random.default_rng(VALUE_SEED)
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(5, int(10_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_ord = max(50, int(1_500_000 * scale))
    n_li = max(200, int(6_000_000 * scale))
    n_ev = max(100, int(1_000_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_vec = max(500, int(20_000 * scale))
    return {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": REGIONS,
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, 0, 2404, n_ord),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, 1, 2499, n_li),
        },
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_ev)).astype(
                "timedelta64[us]"
            ),
            "user_id": rng.integers(0, max(15, n_ev // 7), n_ev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
        "documents": _docs(rng, n_doc),
        "embeddings": _embeddings(rng, n_vec),
    }


def _replicate(name: str, table: pa.Table, replicas: int) -> pa.Table:
    """``replicas`` key-strided copies; replica 0 is the identity."""
    parts = [table]
    for k in range(1, replicas):
        rep = table
        for col in KEY_COLS.get(name, []):
            i = rep.schema.get_field_index(col)
            shifted = pc.add(rep.column(col), k * KEY_STRIDE)
            rep = rep.set_column(i, col, shifted)
        parts.append(rep)
    return pa.concat_tables(parts)


def generate(dest: str, scale: float, seed: int, replicas: int = 1) -> dict:
    """Write every table under ``dest`` and return per-table row counts and
    bytes.  Reuses ``dest`` when a previous call with the same arguments
    completed there."""
    manifest_path = os.path.join(dest, "manifest.json")
    args = {"scale": scale, "seed": seed, "replicas": replicas}
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        if manifest.get("args") == args:
            return manifest["tables"]
    os.makedirs(dest, exist_ok=True)
    layout = np.random.default_rng(seed)
    out = {}
    for name, cols in build_tables(scale).items():
        table = pa.table(cols)
        if replicas > 1 and name in ("lineitem", "part"):
            table = _replicate(name, table, replicas)
        # Seeded physical layout: row order and row-group split.
        table = table.take(layout.permutation(table.num_rows))
        groups = int(layout.integers(1, 5))
        path = os.path.join(dest, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=-(-table.num_rows // groups))
        out[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    with open(manifest_path, "w") as fh:
        json.dump({"args": args, "tables": out}, fh)
    return out
