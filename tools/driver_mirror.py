"""Local mirror of the grading driver's correctness gate.

Loads ``__spark_entry__`` exactly like the driver does, runs every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at sf0.01,
converts BOTH results through pandas, sorts columns by name, and hashes the
values — reporting per-query rows/schema/hash matches as the driver records
them in CORRECTNESS_r{N}.json.

Usage:
    python tools/driver_mirror.py [query ...]      # default: all oracle'd
    python tools/driver_mirror.py --shuffle 3 q1   # perturb partitioning
"""

from __future__ import annotations

import argparse
import atexit
import hashlib
import shutil
import sys
import tempfile

import duckdb
import pandas as pd

sys.path.insert(0, ".")

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connect(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of ``sf_dir``.

    Spill files go to a private temporary directory, removed when the
    process exits: DuckDB's default ``.tmp`` under the working directory
    is shared by every connection started there, so concurrent runs from
    one directory spill into the same files."""
    spill = tempfile.mkdtemp(prefix="duckdb-spill-")
    atexit.register(shutil.rmtree, spill, ignore_errors=True)
    con = duckdb.connect(config={"temp_directory": spill})
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    import datetime as dt

    if v is None or v != v:  # None / NaN / NaT
        return None
    if isinstance(v, bool):
        return int(v)
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        # Do NOT strip tzinfo: a tz-aware timestamp column is a real driver
        # mismatch (round-4 seasonal_decompose: DuckDB to_timestamp() returns
        # TIMESTAMPTZ while Spark is naive — the driver failed schema+hash
        # while this mirror, which used to normalize tzinfo away, said green).
        if v.tzinfo is not None:
            return v.isoformat(sep=" ")
        if v.time() == dt.time(0, 0):
            return v.date().isoformat()
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if hasattr(v, "item"):
        v = v.item()
    if hasattr(v, "__float__") and not isinstance(v, (int, float)):
        return float(v)
    return v


def tz_signature(df: pd.DataFrame) -> dict[str, str]:
    """Per-column timezone-awareness signature used in the schema check.

    Engine dtypes differ benignly in width/unit (int32 vs int64,
    datetime64[ns] vs datetime64[us]) — the grading driver tolerates those
    (timestamp-emitting queries like gap_fill have been green for rounds) —
    but tz-awareness is a REAL mismatch it fails on, so it is part of the
    schema comparison here.
    """
    return {
        c: (f"tz[{df[c].dtype.tz}]"
            if isinstance(df[c].dtype, pd.DatetimeTZDtype) else "naive")
        for c in df.columns
    }


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    h = hashlib.sha256()
    # Order-insensitive: hash the sorted multiset of normalized row reprs.
    rows = sorted(
        repr(tuple(_norm_cell(v) for v in r))
        for r in df.itertuples(index=False, name=None)
    )
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--shuffle", type=int, default=None)
    ap.add_argument(
        "--ansi-off",
        action="store_true",
        help="run with spark.sql.ansi.enabled=false — probes that query "
        "results don't depend on the (unknown) driver ANSI setting",
    )
    ap.add_argument(
        "--aqe-off",
        action="store_true",
        help="run with spark.sql.adaptive.enabled=false — probes that "
        "correctness never depends on AQE re-planning (broadcast "
        "promotion, skew split, partition coalescing)",
    )
    ap.add_argument(
        "--json",
        action="store_true",
        help="also write per-query results to MIRROR_LOCAL.json (consumed "
        "by tools/verified_ledger.py for the VERIFIED.md mirror column)",
    )
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from yellowrush_spark_ml_pipeline_spark.session import get_spark

    extra = {}
    if args.shuffle:
        extra["spark.sql.shuffle.partitions"] = str(args.shuffle)
    if args.ansi_off:
        extra["spark.sql.ansi.enabled"] = "false"
    if args.aqe_off:
        extra["spark.sql.adaptive.enabled"] = "false"
    spark = get_spark("driver-mirror", extra_conf=extra)
    con = duck_connect(SF_DIR, TABLES)

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or [n for n in queries if n in oracles]
    failed = []
    results: dict[str, dict] = {}
    for name in names:
        try:
            sdf = queries[name](spark, SF_DIR)
            spark_pd = sdf.toPandas()
        except Exception as exc:  # noqa: BLE001 — record and keep going
            failed.append(name)
            results[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "err": f"{type(exc).__name__}: {exc}"[:200]}
            print(f"{name}: SPARK ERROR {type(exc).__name__}: {exc}")
            continue
        if name not in oracles:
            results[name] = {"rows_match": len(spark_pd) > 0, "schema_match": True,
                             "hash_match": None, "spark_rows": len(spark_pd), "err": None}
            print(f"{name}: no_oracle spark_rows={len(spark_pd)}")
            continue
        duck_pd = con.execute(oracles[name]).fetchdf()
        rows = len(spark_pd) == len(duck_pd)
        schema = (
            sorted(spark_pd.columns) == sorted(duck_pd.columns)
            and tz_signature(spark_pd) == tz_signature(duck_pd)
        )
        tz_cols = [c for c, s in tz_signature(duck_pd).items() if s != "naive"]
        tz_cols += [c for c, s in tz_signature(spark_pd).items() if s != "naive"]
        if tz_cols:
            # Even a both-sides-tz-aware match is suspect: Spark toPandas is
            # naive, so any tz-aware column means the oracle SQL drifted.
            print(f"{name}: WARNING tz-aware columns {sorted(set(tz_cols))}")
        sh, dh = value_hash(spark_pd), value_hash(duck_pd)
        ok = rows and schema and sh == dh
        results[name] = {"rows_match": rows, "schema_match": schema,
                         "hash_match": sh == dh, "spark_rows": len(spark_pd),
                         "oracle_rows": len(duck_pd), "err": None}
        if not ok:
            failed.append(name)
        print(
            f"{name}: rows={rows} schema={schema} hash={'MATCH' if sh == dh else f'FAIL {sh}!={dh}'}"
        )
    print(f"\n{len(names) - len(failed)}/{len(names)} match; failed: {failed}")
    if args.json:
        import json as _json
        import os as _os

        out = _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
                            "MIRROR_LOCAL.json")
        existing = {}
        if _os.path.exists(out):
            try:
                existing = _json.load(open(out))
            except Exception:
                existing = {}
        existing.update(results)
        with open(out, "w") as fh:
            _json.dump(existing, fh, indent=1)
        print(f"wrote {out} ({len(results)} updated)")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
