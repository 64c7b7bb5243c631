#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: reads Verify.scala output
parquet + oracle_sql.json, runs each oracle in DuckDB over the same sf dir,
and compares (columns sorted by name, rows sorted, values stringified).

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os
import duckdb
import pandas as pd


def connect(sf: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per `<sf>/<table>.parquet`."""
    con = duckdb.connect()
    for p in glob.glob(f"{sf}/*.parquet"):
        t = os.path.basename(p).removesuffix(".parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def read_dump(d: str) -> pd.DataFrame:
    """One query's Verify output directory as a single frame."""
    return pd.concat([pd.read_parquet(f) for f in glob.glob(f"{d}/*.parquet")],
                     ignore_index=True)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: None if v is None or (isinstance(v, float) and pd.isna(v)) else repr(v))
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def check(con, name: str, spark_df: pd.DataFrame, sql: str,
          row_diff: bool = False) -> bool:
    """Run `sql` in DuckDB, compare it with `spark_df`, print the verdict
    line, and return whether they match. `row_diff` adds a sample of the
    rows only one side has when the row counts differ."""
    try:
        duck_df = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"[FAIL-sql ] {name}: {e}")
        return False
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        print(f"[FAIL-cols] {name}: spark={list(a.columns)} duck={list(b.columns)}")
        return False
    if len(a) != len(b):
        print(f"[FAIL-rows] {name}: spark={len(a)} duck={len(b)}")
        if row_diff:
            sa = set(map(tuple, a.values.tolist())); sb = set(map(tuple, b.values.tolist()))
            print("  only-spark:", list(sa - sb)[:3])
            print("  only-duck :", list(sb - sa)[:3])
        return False
    if not a.equals(b):
        neq = (a != b) & ~(a.isna() & b.isna())
        bad = neq.any(axis=1)
        print(f"[FAIL-vals] {name}: {bad.sum()}/{len(a)} rows differ; first:")
        idx = bad.idxmax()
        print("  spark:", a.loc[idx].to_dict())
        print("  duck :", b.loc[idx].to_dict())
        return False
    print(f"[OK       ] {name}: {len(a)} rows")
    return True


def main(sf: str, out: str) -> int:
    con = connect(sf)
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    fails = 0
    for name in sorted(os.listdir(out)):
        d = os.path.join(out, name)
        if not os.path.isdir(d):
            continue
        spark_df = read_dump(d)
        if name not in oracle:
            print(f"[rows-only] {name}: {len(spark_df)} rows")
            continue
        if not check(con, name, spark_df, oracle[name]):
            fails += 1
    print("FAILURES:", fails)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
