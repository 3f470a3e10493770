"""Checks captured registry outputs against their DuckDB oracles.

The comparison rule is the repo's correctness gate (scripts/check.py):
columns sorted by name, rows sorted by every column, then exact
equality per cell, with NaN equal to NaN and NULL equal to NULL.

A query listed in ``digests.json`` is checked against the stored
SHA-256 of an output that once matched its oracle instead: its oracle
runs for minutes (``dedup_pipeline``'s recursive connected-components
CTE). The check result says so; such a query is never skipped.
"""
import hashlib
import json
import os
import threading

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
ORACLE_TIMEOUT_S = 30
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "digests.json")) as _f:
    DIGESTS = json.load(_f)


def _norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got, exp):
    """Returns None when equal, else a one-line reason."""
    got, exp = _norm(got), _norm(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != oracle {list(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows != oracle {len(exp)}"
    for c in got.columns:
        g, e = got[c].to_numpy(), exp[c].to_numpy()
        if g.dtype.kind == "f" and e.dtype.kind == "f":
            neq = ~((g == e) | (np.isnan(g) & np.isnan(e)))
        else:
            gn, en = got[c].isna().to_numpy(), exp[c].isna().to_numpy()
            neq = ~(((got[c] == exp[c]) & ~gn & ~en) | (gn & en)).to_numpy()
        if neq.any():
            i = int(np.argmax(neq))
            return f"row {i} col {c}: {g[i]!r} != oracle {e[i]!r}"
    return None


def digest(df):
    """SHA-256 of an output in the comparison rule's normal form."""
    return hashlib.sha256(_norm(df).to_csv(index=False).encode()).hexdigest()


def check_outputs(tables_dir, outputs_dir, oracles):
    """Maps each query name to "pass" or the reason it failed."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    status = {}
    for name, sql in oracles.items():
        timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
        timer.start()
        try:
            got = con.sql(
                f"SELECT * FROM '{os.path.join(outputs_dir, name)}/*.parquet'").df()
            if name in DIGESTS:
                d = digest(got)
                status[name] = ("pass (stored digest of an oracle-confirmed output)"
                                if d == DIGESTS[name]["sha256"]
                                else f"digest {d[:16]} != stored {DIGESTS[name]['sha256'][:16]}")
                continue
            exp = con.sql(sql).df()
            status[name] = compare(got, exp) or "pass"
        except Exception as e:  # an oracle error or timeout is a failed check
            status[name] = f"oracle check error: {str(e).splitlines()[0][:200]}"
        finally:
            timer.cancel()
    con.close()
    return status
