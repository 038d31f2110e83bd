"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01,
compare row count + column names + order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from beetle_search_engine_spark.sources.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        elif str(df[c].dtype).startswith(("int", "uint")):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf_dir  # data-dependent oracles
    # (ivf_ann_cosine centroid literals) re-fit on the checked sf tier
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception:
            results.append((name, "SPARK_ERROR", traceback.format_exc(limit=3).splitlines()[-1]))
            continue
        if name not in oracles:
            results.append((name, "ROWS_ONLY", f"{len(got)} rows"))
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception:
            results.append((name, "ORACLE_ERROR", traceback.format_exc(limit=3).splitlines()[-1]))
            continue
        if sorted(got.columns) != sorted(want.columns):
            results.append((name, "SCHEMA_MISMATCH", f"spark={sorted(got.columns)} duckdb={sorted(want.columns)}"))
            continue
        if len(got) != len(want):
            results.append((name, "ROWCOUNT_MISMATCH", f"spark={len(got)} duckdb={len(want)}"))
            continue
        g, w = normalize(got), normalize(want)
        if g.equals(w):
            results.append((name, "OK", f"{len(got)} rows"))
        else:
            diff = (g != w).any(axis=1)
            i = diff.idxmax() if diff.any() else None
            detail = f"first diff row {i}:\n  spark:  {g.loc[i].to_dict() if i is not None else ''}\n  duckdb: {w.loc[i].to_dict() if i is not None else ''}"
            results.append((name, "VALUE_MISMATCH", detail))

    ok = sum(1 for _, s, _ in results if s in ("OK", "ROWS_ONLY"))
    print("\n" + "=" * 70)
    for name, status, detail in results:
        print(f"{status:18} {name:24} {detail}")
    print(f"{ok}/{len(results)} pass")
    spark.stop()


if __name__ == "__main__":
    main()
