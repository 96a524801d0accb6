#!/usr/bin/env python3
"""Result check: each operation's rows against DuckDB running the
registered oracle SQL over the same inputs.

This mirrors the compare rule of tools/check.py, the repo's own oracle
check: HUGEINT/DECIMAL result columns fail on either side; then the column
set, the pandas dtypes (integer widths normalised), the row count and
every value (doubles exact, NULL/NaN equal only to NULL/NaN) must agree.
A change to that rule belongs in both files. The intended differences:

- array values (the embedding ids) compare element by element, where
  tools/check.py would raise on them;
- oracle results are cached as parquet, keyed by a hash of the SQL, so a
  later run re-reads them instead of re-running DuckDB;
- the program's rows come from parquet written by the harness, not from a
  graft.Verify dump.
"""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def _banned(rel, side):
    return [(side, c, str(t)) for c, t in zip(rel.columns, rel.types)
            if str(t) == "HUGEINT" or str(t).startswith("DECIMAL")]


def oracle(con, data_dir, cache_dir, name, sql):
    """Return a DuckDB relation over the oracle result, or raise."""
    sql = sql.replace("__SF_DIR__", data_dir)
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{name}-{key}.parquet")
    if not os.path.exists(path):
        rel = con.sql(sql)
        bad = _banned(rel, "oracle")
        if bad:
            raise ValueError(f"banned result types {bad}")
        os.makedirs(cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
        os.replace(tmp, path)
    return con.sql(f"SELECT * FROM read_parquet('{path}')")


def _canon(d):
    d = str(d)
    return "int64" if d in ("int8", "int16", "int32") else d


def _same(x, y):
    if isinstance(x, (list, tuple, np.ndarray)):
        if not isinstance(y, (list, tuple, np.ndarray)) or len(x) != len(y):
            return False
        return all(_same(a, b) for a, b in zip(x, y))
    if isinstance(x, dict) or isinstance(y, dict):
        return x == y
    if x == y:
        return True
    try:
        return bool(pd.isna(x)) and bool(pd.isna(y))
    except (TypeError, ValueError):
        return False


def compare(got_rel, want_rel):
    """None when equal, else a one-line reason."""
    bad = _banned(got_rel, "spark") + _banned(want_rel, "oracle")
    if bad:
        return f"banned result types {bad}"
    got, want = got_rel.df(), want_rel.df()
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gc} vs {wc}"
    got, want = got[gc], want[wc]
    dt = [(c, str(got[c].dtype), str(want[c].dtype)) for c in gc
          if _canon(got[c].dtype) != _canon(want[c].dtype)]
    if dt:
        return f"dtype mismatch {dt}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in gc:
        for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not _same(x, y):
                return f"col {c} row {i}: {x!r} vs {y!r}"
    return None


def check_results(data_dir, cache_dir, results_dir, oracle_sql, ids):
    """Map id -> None (pass) or reason, for every id in `ids`."""
    con = connect(data_dir)
    out = {}
    for name in ids:
        files = sorted(glob.glob(f"{results_dir}/{name}/*.parquet"))
        if not files:
            out[name] = "no result"
            continue
        if name not in oracle_sql:
            out[name] = "no oracle SQL registered"
            continue
        try:
            want = oracle(con, data_dir, cache_dir, name, oracle_sql[name])
            got = con.sql(f"SELECT * FROM read_parquet({files!r})")
            out[name] = compare(got, want)
        except Exception as e:  # an oracle or read error fails the id
            out[name] = f"check error {e}"
    con.close()
    return out
