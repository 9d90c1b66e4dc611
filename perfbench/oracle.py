"""DuckDB oracle check for registry_sweep: each timed query's collected
rows (written to parquet after timing) must equal its oracle SQL run by
DuckDB over the same generated tables. Columns compare by name, rows in
order, values exactly (NaN equals NaN), with the same value class
(int / float / bool / string / timestamp) on both sides.
"""
import datetime
import glob
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
KINDS = {"i": "int", "u": "int", "f": "float", "b": "bool", "O": "obj", "S": "obj",
         "U": "obj", "M": "ts", "m": "td"}


def _kind(series):
    k = KINDS.get(series.dtype.kind, series.dtype.kind)
    if k == "obj":
        vals = series.dropna()
        if len(vals) and isinstance(vals.iloc[0], (datetime.date, datetime.datetime)):
            return "ts"
    return k


def _same(a, b):
    if isinstance(a, (list, tuple, np.ndarray)) or isinstance(b, (list, tuple, np.ndarray)):
        try:
            return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
        except TypeError:
            return False
    try:
        na, nb = pd.isna(a), pd.isna(b)
        if na or nb:
            return bool(na and nb)
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        return fa == fb or (math.isnan(fa) and math.isnan(fb))
    if isinstance(a, (int, np.integer)) and isinstance(b, (int, np.integer)):
        return int(a) == int(b)
    if isinstance(a, (pd.Timestamp, np.datetime64, datetime.date)) or \
            isinstance(b, (pd.Timestamp, np.datetime64, datetime.date)):
        return pd.Timestamp(a) == pd.Timestamp(b)
    return str(a) == str(b)


def compare_frames(spark_df, duck_df):
    s = spark_df.reindex(sorted(spark_df.columns), axis=1).reset_index(drop=True)
    d = duck_df.reindex(sorted(duck_df.columns), axis=1).reset_index(drop=True)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs oracle {list(d.columns)}"
    if len(s) != len(d):
        return f"{len(s)} rows vs oracle {len(d)}"
    for c in s.columns:
        if len(s) and _kind(s[c]) != _kind(d[c]):
            return f"column {c}: {s[c].dtype} vs oracle {d[c].dtype}"
    for c in s.columns:
        sv, dv = s[c].values, d[c].values
        for i in range(len(sv)):
            if not _same(sv[i], dv[i]):
                return f"column {c} row {i}: {sv[i]!r} vs oracle {dv[i]!r}"
    return None


def compare(table_dir, results_dir):
    """(query, failure) for every timed query whose rows differ from its
    oracle; queries without an oracle are skipped."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures = []
    for q in sorted(oracle):
        files = sorted(glob.glob(os.path.join(results_dir, q, "*.parquet")))
        if not files:
            failures.append((q, "no rows written"))
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        try:
            want = con.execute(oracle[q]).df()
        except Exception as e:  # the oracle itself failed on these tables
            failures.append((q, f"oracle error: {e}"))
            continue
        msg = compare_frames(got, want)
        if msg:
            failures.append((q, msg))
    return failures
