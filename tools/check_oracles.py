"""Local stand-in for the driver's CORRECTNESS gate: run every
queries() entry against its oracle_sql() on DuckDB at sf0.01 and
compare row count, column set, and an order-insensitive value hash.

Usage: python tools/check_oracles.py [sf_dir] [only_query_prefix]

Runs on local[n], n = the CPUs this process may use. Exits 1 if any
query fails or the prefix matches no query.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entry_mod
from asag_spark.session import get_spark
from asag_spark.sources import TABLES


def canon_hash(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for tup in df.itertuples(index=False):
        cells = []
        for v in tup:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                cells.append("<NULL>")
            elif isinstance(v, float):
                cells.append(repr(round(v, 9)))
            else:
                cells.append(str(v))
        rows.append("|".join(cells))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2] if len(sys.argv) > 2 else ""
    n = len(os.sched_getaffinity(0))
    spark = get_spark("oracle_check", master=f"local[{n}]", shuffle_partitions=n)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = dict(entry_mod.queries())
    qs.update(entry_mod.demoted_queries())
    oracles = dict(entry_mod.oracle_sql())
    oracles.update(entry_mod.demoted_oracle_sql())
    n_pass = n_fail = n_run = 0
    for name, fn in qs.items():
        if only and not name.startswith(only):
            continue
        n_run += 1
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {str(e).splitlines()[0][:140]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error {str(e).splitlines()[0][:140]}")
            n_fail += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems and canon_hash(sdf) != canon_hash(odf):
            problems.append("value-hash mismatch")
            # show first differing rows for debugging
            a = sdf.reindex(sorted(sdf.columns), axis=1).astype(str)
            b = odf.reindex(sorted(odf.columns), axis=1).astype(str)
            sa = set(map(tuple, a.itertuples(index=False)))
            sb = set(map(tuple, b.itertuples(index=False)))
            for d in list(sa - sb)[:3]:
                print(f"   spark-only: {d}")
            for d in list(sb - sa)[:3]:
                print(f"   oracle-only: {d}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sdf)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    if not n_run:
        print(f"no query matches prefix {only!r}")
    return 1 if n_fail or not n_run else 0


if __name__ == "__main__":
    sys.exit(main())
