"""DuckDB oracle compare for the lake_dml workload, with the canonical form
of the repository's scripts/check.py: columns sorted by name, rows sorted,
values compared as strings.

The JVM writes <run>/data/oracle.json: the generated tables' parquet paths,
and per query kind its oracle SQL and the result directory of every run of
that kind. Each result is compared with the oracle's answer on the same
tables; every mismatch is one failed op.
"""
import glob
import json

import duckdb
import pandas as pd


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True) if len(df) else df
    return df.reset_index(drop=True)


def cell(v):
    if v is None or v != v:  # NaN/None
        return "NULL"
    return str(v)


def frame_sig(df):
    return [tuple(cell(v) for v in row) for row in df.itertuples(index=False)]


def compare(mine, theirs):
    """None when equal, else a short reason."""
    if list(mine.columns) != list(theirs.columns):
        return f"SCHEMA_MISMATCH mine={list(mine.columns)} oracle={list(theirs.columns)}"
    if len(mine) != len(theirs):
        return f"ROWCOUNT {len(mine)} vs {len(theirs)}"
    a, b = frame_sig(mine), frame_sig(theirs)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return f"VALUE_MISMATCH {diffs}"
    return None


def check(manifest_path):
    """Compare every result in the manifest; returns the failure messages."""
    with open(manifest_path) as f:
        m = json.load(f)
    con = duckdb.connect()
    for name, path in m["tables"].items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    bad = []
    for kind, q in sorted(m["queries"].items()):
        theirs = canon(con.execute(q["oracle"]).fetchdf())
        for d in q["results"]:
            files = glob.glob(f"{d}/*.parquet")
            if not files:
                bad.append(f"{kind}: no output in {d}")
                continue
            mine = canon(pd.concat([pd.read_parquet(f) for f in files]))
            why = compare(mine, theirs)
            if why:
                bad.append(f"{kind}: {why[:300]}")
    con.close()
    return bad
