"""DuckDB oracle check of the gate outputs the harness wrote.

Same comparison rules as tools/check.py: the oracle SQL runs over the
input directory's tables, columns are compared by sorted name, rows
order-insensitively with exact values. Unlike tools/check.py, a gate
with no output directory, no rows file or no oracle entry is a failure,
never a skip.
"""
import json
import os

import duckdb
import pandas as pd

from gen import TABLES


def _tuplify(df):
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple))
                              or type(v).__name__ == "ndarray" else v)
    return df


def check(input_dir, out_dir, gates, threads):
    """Returns {gate: None when it matches, else the reason}."""
    oracle = json.load(open(os.path.join(out_dir, "oracle.json")))
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{input_dir}/{t}.parquet')")
    verdict = {}
    for g in gates:
        pdir = os.path.join(out_dir, "check", g)
        if not oracle.get(g):
            verdict[g] = "no oracle SQL"
            continue
        if not os.path.isdir(pdir) or not any(
                f.endswith(".parquet") for f in os.listdir(pdir)):
            verdict[g] = "no output"
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{pdir}/*.parquet')").fetchdf()
            exp = con.execute(oracle[g]).fetchdf()
        except Exception as e:  # an oracle or read error is a failed check
            verdict[g] = f"error: {e}"
            continue
        g2 = _tuplify(got.reindex(sorted(got.columns), axis=1))
        e2 = _tuplify(exp.reindex(sorted(exp.columns), axis=1))
        if list(g2.columns) != list(e2.columns):
            verdict[g] = f"cols: spark={list(g2.columns)} oracle={list(e2.columns)}"
            continue
        if len(g2) != len(e2):
            verdict[g] = f"rows: spark={len(g2)} oracle={len(e2)}"
            continue
        cols = list(g2.columns)
        g2 = g2.sort_values(cols, na_position="first").reset_index(drop=True)
        e2 = e2.sort_values(cols, na_position="first").reset_index(drop=True)
        try:
            pd.testing.assert_frame_equal(g2, e2, check_dtype=False, check_exact=True)
            verdict[g] = None
        except AssertionError as ex:
            verdict[g] = " ".join(str(ex).split("\n")[:6])
    con.close()
    return verdict
