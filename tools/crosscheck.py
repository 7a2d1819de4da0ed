"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at the
given SF, compare row count, column names, and order-insensitive
values (doubles compared to 1e-9 relative after both engines' own
rounding).

Usage: python tools/crosscheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from marketing_attribution_etl_framework__maef_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    return v


def compare(sf_dir: str, names: list[str] | None = None) -> int:
    spark = get_spark("crosscheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    checked = 0
    for name, fn in qs.items():
        if names and name not in names:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"{name:42s} FAIL exception: {str(ex).splitlines()[0][:160]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"{name:42s} rows={len(sdf):7d}  (no oracle — rows-only)")
            continue
        odf = con.execute(oracles[name]).df()
        ok = True
        msgs = []
        if len(sdf) != len(odf):
            ok, msgs = False, msgs + [f"rowcount {len(sdf)} != {len(odf)}"]
        s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
        if s_cols != o_cols:
            ok, msgs = False, msgs + [f"cols {s_cols} != {o_cols}"]
        if ok:
            def _key(row):
                return tuple((v is None, type(v).__name__, str(v)) for v in row)

            s_rows = sorted(
                (tuple(_norm(v) for v in row) for row in sdf[s_cols].itertuples(index=False)),
                key=_key,
            )
            o_rows = sorted(
                (tuple(_norm(v) for v in row) for row in odf[o_cols].itertuples(index=False)),
                key=_key,
            )
            if s_rows != o_rows:
                ok = False
                diff = [(a, b) for a, b in zip(s_rows, o_rows) if a != b][:3]
                msgs.append(f"values differ, first diffs: {diff}")
        status = "OK " if ok else "FAIL"
        print(f"{name:42s} rows={len(sdf):7d}  {status} {'; '.join(msgs)}")
        failures += 0 if ok else 1
        checked += 1
    print(f"crosscheck: {checked - failures}/{checked} OK, {failures} FAIL ({sf_dir})")
    return failures


if __name__ == "__main__":
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    names = [a for a in args if "/" not in a] or None
    sys.exit(1 if compare(sf_dir, names) else 0)
