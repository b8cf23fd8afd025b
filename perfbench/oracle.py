"""Correctness check: each query's output from the run's last untimed
pass against its DuckDB oracle (`SparkEntry.oracleSql`), compared the
way `tools/parity.py` compares, with its iterative replacements for the
d7/d10/d20/t29 closures.

A query whose oracle is missing or cannot finish within
ORACLE_TIMEOUT_S is checked instead for identical output across the
run's untimed passes (the last set-up pass against the one before it)
and named as oracle-unchecked.
"""
import glob
import os
import sys
import threading

import duckdb
import pandas as pd

sys.path.insert(0, "tools")
import parity  # noqa: E402  (the repo's oracle comparator)

ORACLE_TIMEOUT_S = 10
ITERATIVE = {"d7_cluster": parity.d7_oracle, "d10_cluster_keep": parity.d10_oracle,
             "d20_cross_batch_cluster": parity.d20_oracle,
             "t29_datasheet": parity.t29_oracle}


def read_output(path):
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        return None
    return parity.canon(pd.concat([pd.read_parquet(f) for f in files]))


def same(got, exp):
    """None when equal, else the first difference, typed as the
    driver's hash compare is (dtype-strict)."""
    if list(got.columns) != list(exp.columns):
        return f"cols got={list(got.columns)} exp={list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows got={len(got)} exp={len(exp)}"
    for c in got.columns:
        g, e = got[c], exp[c]
        if g.dtype != e.dtype:
            return f"col {c} dtype got={g.dtype} exp={e.dtype}"
        try:
            eq = (g.isna() & e.isna()) | (g == e)
        except Exception:
            eq = g.astype(str) == e.astype(str)
        if not eq.all():
            bad = (~eq).idxmax()
            return f"col {c} row {bad}: got={g[bad]!r} exp={e[bad]!r}"
    return None


def run_oracle(con, name, sql):
    """The oracle's canonical result, or None when it does not finish
    in time."""
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        return parity.canon(ITERATIVE.get(name, lambda c, s: c.execute(s).df())(con, sql))
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()


def check(data_dir, out_dir, prev_dir, queries, oracles):
    """Compares out_dir/<query> with the query's oracle, or with
    prev_dir/<query> when there is no oracle result. Returns
    {query: None | error string} and the oracle-unchecked names."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ("documents", "embeddings"):
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    errors, unchecked = {}, []
    for name in queries:
        got = read_output(os.path.join(out_dir, name))
        if got is None:
            errors[name] = "no output"
            continue
        try:
            exp = run_oracle(con, name, oracles[name]) if name in oracles else None
        except Exception as e:
            errors[name] = f"oracle error {e}"
            continue
        if exp is None:
            unchecked.append(name)
            prev = read_output(os.path.join(prev_dir, name))
            errors[name] = "no earlier output" if prev is None else same(got, prev)
        else:
            errors[name] = same(got, exp)
    return errors, unchecked
