"""Local replica of the driver's correctness gate: run every
``queries()[name]`` on Spark and the matching ``oracle_sql()[name]`` on
DuckDB over the same parquet tables, compare row count + column names +
order-insensitive value hash.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb
import pandas as pd


def canon_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if pd.isna(v) if not isinstance(v, (list, tuple)) else False:
        return "NULL"
    if isinstance(v, (bool,)):
        return "true" if v else "false"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return repr(v)
        return repr(round(v, 10))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    import datetime

    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return str(v)


def frame_hash(df: pd.DataFrame) -> tuple[int, str, list[str]]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for tup in df.itertuples(index=False):
        rows.append("\x1f".join(canon_cell(v) for v in tup))
    rows.sort()
    digest = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return len(rows), digest, cols


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from narowi_ocr_spark.config import get_spark

    spark = get_spark(app_name="oracle-check", master="local[8]",
                      shuffle_partitions=8)

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(sdf)} rows  ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            failures.append(name)
            continue
        sn, sh, sc = frame_hash(sdf)
        on_, oh, oc = frame_hash(odf)
        ok = (sn == on_) and (sh == oh) and (sc == oc)
        status = "OK   " if ok else "FAIL "
        print(f"{status} {name}: spark {sn} rows, oracle {on_} rows, "
              f"hash {'match' if sh == oh else 'MISMATCH'}, "
              f"cols {'match' if sc == oc else f'{sc} vs {oc}'}  "
              f"({time.time()-t0:.1f}s)")
        if not ok:
            failures.append(name)
            merged = sdf.copy()
            if sc == oc and sn and on_:
                s_rows = set("\x1f".join(canon_cell(v) for v in t)
                             for t in sdf[sorted(sdf.columns)].itertuples(index=False))
                o_rows = set("\x1f".join(canon_cell(v) for v in t)
                             for t in odf[sorted(odf.columns)].itertuples(index=False))
                for r in list(s_rows - o_rows)[:3]:
                    print("   spark-only:", r.replace("\x1f", " | ")[:200])
                for r in list(o_rows - s_rows)[:3]:
                    print("   oracle-only:", r.replace("\x1f", " | ")[:200])
    print("\nFAILURES:", failures if failures else "none")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
