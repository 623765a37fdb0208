#!/usr/bin/env python3
"""Local replica of the driver's t2 gate: run each oracle SQL in DuckDB
against the sfDir parquet tables and compare with the Spark parquet dump
from graft.Verify (columns sorted by name, values compared row-by-row).

Usage: python3 tools/selfcheck.py <sfDir> <verifyOutDir>

Each gate's check (read, oracle, compare) is timed; the 5 slowest print
before the summary line.
"""
import json, sys, os, time
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.reset_index(drop=True)


def check(con, oracle, name, d):
    """Compare one gate's dump with its oracle, printing the ok/FAIL line.
    Returns True (ok), False (fail) or the row count of a rows-only gate."""
    spark_df = canon(pd.read_parquet(d))
    if name not in oracle:
        return len(spark_df)
    try:
        duck_df = canon(con.execute(oracle[name]).fetchdf())
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {e}")
        return False
    if list(spark_df.columns) != list(duck_df.columns):
        print(f"FAIL {name}: columns spark={list(spark_df.columns)} duck={list(duck_df.columns)}")
        return False
    if len(spark_df) != len(duck_df):
        print(f"FAIL {name}: rows spark={len(spark_df)} duck={len(duck_df)}")
        return False
    # value compare (exact; floats were rounded on both sides)
    for c in spark_df.columns:
        a, b = spark_df[c], duck_df[c]
        try:
            eq = (a.astype(str) == b.astype(str))
        except Exception:
            eq = a == b
        if not eq.all():
            i = (~eq).idxmax()
            print(f"FAIL {name}: col {c} row {i}: spark={a[i]!r} duck={b[i]!r}")
            return False
    print(f"ok   {name} ({len(spark_df)} rows)")
    return True


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    rows_only = []
    secs = []
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        t0 = time.perf_counter()
        res = check(con, oracle, name, d)
        secs.append((time.perf_counter() - t0, name))
        if res is True:
            n_ok += 1
        elif res is False:
            n_bad += 1
        else:
            rows_only.append((name, res))
    for name, n in rows_only:
        status = "ok" if n > 0 else "EMPTY"
        print(f"rows-only {name}: {n} rows [{status}]")
    for s, name in sorted(secs, reverse=True)[:5]:
        print(f"slowest {s:8.2f} s {name}")
    print(f"\n{n_ok} ok, {n_bad} fail, {len(rows_only)} rows-only")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
