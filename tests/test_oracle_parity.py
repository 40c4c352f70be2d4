"""Differential check of every `queries()` entry against its `oracle_sql()`
DuckDB equivalent — a strict local mirror of the driver's correctness gate
(row count + column names + order-insensitive value comparison).

The driver converts DuckDB results through pandas and hashes EXACT values,
so this test (a) reads the oracle via ``fetchdf()`` to surface pandas dtype
coercions (e.g. HUGEINT→float64, the round-1 failure mode), and (b) compares
floats bit-exactly — any last-ulp drift between engines fails here first.
"""

from __future__ import annotations

import pandas as pd
import pytest

import __spark_entry__ as entrymod
from tools.driver_mirror import _norm_cell, duck_connect, tz_signature

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    return duck_connect(SF_DIR, TABLES)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        out.append(tuple(_norm_cell(row[i]) for i in order))
    return sorted(out, key=repr)


def _approx_equal(a, b) -> bool:
    # Exact, type-class-sensitive equality: the driver hashes values, so an
    # int 0 vs float 0.0 (pandas HUGEINT coercion) must FAIL here too.
    if isinstance(a, float) != isinstance(b, float):
        return False
    return a == b


ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


def _assert_same(name, spark_pd, duck_df):
    spark_cols = list(spark_pd.columns)
    spark_rows = [tuple(r) for r in spark_pd.itertuples(index=False, name=None)]
    duck_cols = list(duck_df.columns)
    duck_rows = [tuple(r) for r in duck_df.itertuples(index=False, name=None)]

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert tz_signature(spark_pd) == tz_signature(duck_df), (
        f"{name}: timezone mismatch spark={tz_signature(spark_pd)} "
        f"duck={tz_signature(duck_df)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )

    s_norm = _normalize(spark_rows, spark_cols)
    d_norm = _normalize(duck_rows, duck_cols)
    mismatches = []
    for i, (sr, dr) in enumerate(zip(s_norm, d_norm)):
        if not all(_approx_equal(a, b) for a, b in zip(sr, dr)):
            mismatches.append((i, sr, dr))
            if len(mismatches) >= 5:
                break
    assert not mismatches, f"{name}: value mismatches (first 5): {mismatches}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, duck):
    assert name in QUERIES, f"oracle_sql has {name} but queries() does not"
    # Through pandas like the driver: a NULL in an integer column renders
    # the WHOLE column float64 on either engine, so comparing collect()
    # ints against pandas floats would flag spurious type mismatches that
    # the driver's pandas-vs-pandas hash never sees.
    spark_pd = QUERIES[name](spark, SF_DIR).toPandas()
    _assert_same(name, spark_pd, duck.execute(ORACLES[name]).fetchdf())


def test_comparator_rejects_tz_aware_against_naive():
    """The same instants, tz-aware on one side and naive on the other,
    are a mismatch: the driver fails exactly this case."""
    naive = pd.DataFrame({"ts": pd.to_datetime(["2024-01-01 00:00", "2024-01-02 06:30"])})
    aware = naive.assign(ts=naive["ts"].dt.tz_localize("UTC"))
    _assert_same("naive", naive, naive.copy())
    with pytest.raises(AssertionError, match="timezone mismatch"):
        _assert_same("tz", naive, aware)
    assert [_norm_cell(v) for v in naive["ts"]] != [_norm_cell(v) for v in aware["ts"]]


def test_all_queries_run(spark):
    """Queries without an oracle still must run and return ≥0 rows with a
    stable schema at the oracle SF."""
    for name, fn in QUERIES.items():
        if name in ORACLES:
            continue
        df = fn(spark, SF_DIR)
        assert df.columns, name
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_no_vacuous_oracle_queries():
    """Every oracle-backed query must return ≥1 row in the committed
    mirror snapshot: a 0==0 hash match proves nothing (important_stock
    shipped vacuous at round 5 until this guard — its 1.2% share bar
    excluded every supplier)."""
    import json
    import pathlib

    snap_path = pathlib.Path(__file__).resolve().parents[1] / "MIRROR_LOCAL.json"
    if not snap_path.exists():
        pytest.skip("no MIRROR_LOCAL.json snapshot")
    snap = json.load(open(snap_path))
    vacuous = [
        name
        for name, rec in snap.items()
        if isinstance(rec, dict)
        and rec.get("err") is None
        and rec.get("spark_rows") == 0
    ]
    assert not vacuous, f"oracle queries returning zero rows: {vacuous}"
