"""Output checks for one benchmark run, made after the JVM has exited.

A query op whose name has oracle SQL (SparkEntry.oracleSql, or the
workload's own) is compared with DuckDB on the same generated inputs,
with the canonicalisation of tools/check_oracle.py: columns sorted by
name, rows sorted by every column, bit-exact floats (NaN equals NaN),
and an empty-versus-empty result counts as a failure. A query op
without oracle SQL must return rows. Other ops were checked inside the
driver against the invariants the specs pin; their verdict is in the
run record.
"""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def digest(df, float_cols):
    """Order-independent hash of a canonicalised frame: float columns
    by their float64 bytes (NaN equal to NaN), the rest by their text."""
    h = hashlib.sha256(",".join(df.columns).encode())
    for c in df.columns:
        if c in float_cols:
            h.update(df[c].values.astype(float).tobytes())
        else:
            h.update("\x1f".join(df[c].astype(str)).encode())
    return h.hexdigest()


def compare(got, exp):
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"schema spark={list(g.columns)} duckdb={list(e.columns)}"
    if len(g) != len(e):
        return f"rows spark={len(g)} duckdb={len(e)}"
    if len(g) == 0:
        return "both engines returned 0 rows"
    floats = {c for c in g.columns if np.issubdtype(g[c].dtype, np.floating)
              or np.issubdtype(e[c].dtype, np.floating)}
    if digest(g, floats) == digest(e, floats):
        return None
    for c in g.columns:
        a, b = g[c].values, e[c].values
        if c in floats:
            af, bf = a.astype(float), b.astype(float)
            bad = ~((af == bf) | (np.isnan(af) & np.isnan(bf)))
        else:
            bad = (pd.Series(a).astype(str) != pd.Series(b).astype(str)).values
        if bad.any():
            i = int(np.argmax(bad))
            return f"value col={c} row={i} spark={a[i]!r} duckdb={b[i]!r}"
    return "hash mismatch"


def verify(record, out_dir, inputs_dir):
    """Returns {op name: failure reason} for every op whose output or
    invariants did not hold."""
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(inputs_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    failures = {}
    for name, verdict in record["checks"].items():
        if verdict == "ok":
            continue
        if verdict != "output":
            failures[name] = verdict
            continue
        got = pd.read_parquet(os.path.join(out_dir, "checks", name))
        sql = record["oracles"].get(name)
        if sql is None:
            if len(got) == 0:
                failures[name] = "no oracle and no rows"
            continue
        try:
            err = compare(got, con.sql(sql).df())
        except Exception as e:  # an oracle that does not run is a failed check
            err = f"oracle error: {str(e)[:200]}"
        if err:
            failures[name] = err
    return failures
