#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate.

Reads the Verify dump (<outDir>/<name>/ parquet + oracle_sql.json), runs each
oracle SQL in DuckDB over the raw testdata tables, and compares: columns
sorted by name, each column's DuckDB type family (the dump read through
DuckDB against the oracle result), rows compared exactly (NaN==NaN), dtypes
value-compatible.

Usage: python3 tools/parity.py <sfDir> <verifyOutDir>
"""
import json, sys, glob, math
import duckdb
import pandas as pd
import numpy as np

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)

def cell_eq(a, b) -> bool:
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) != pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
            if math.isnan(fa) and math.isnan(fb):
                return True
            return fa == fb
        except (TypeError, ValueError):
            return False
    if isinstance(a, (int, np.integer)) and isinstance(b, (int, np.integer)):
        return int(a) == int(b)
    if isinstance(a, (pd.Timestamp, np.datetime64)) or isinstance(b, (pd.Timestamp, np.datetime64)):
        return pd.Timestamp(a) == pd.Timestamp(b)
    return str(a) == str(b)

DTYPE_CLASS = {"i": "int", "u": "int", "f": "float", "b": "bool",
               "O": "obj", "S": "obj", "U": "obj", "M": "ts", "m": "td"}

# DuckDB's pandas bridge, which the t2 gate compares through, hands DECIMAL
# and HUGEINT over as float64, so they share the floating family: the
# t2 schema check passes mm5_tiff_header (DOUBLE against the oracle's
# DECIMAL(2,1)) and fails a BIGINT sum the oracle leaves as HUGEINT.
FAMILY = {
    **{t: "integer" for t in ("tinyint", "smallint", "integer", "bigint",
                              "utinyint", "usmallint", "uinteger", "ubigint")},
    **{t: "floating" for t in ("float", "double", "decimal", "hugeint", "uhugeint")},
    "varchar": "string",
    **{t: "timestamp" for t in ("timestamp", "timestamp_s", "timestamp_ms", "timestamp_ns")},
    "timestamp with time zone": "timestamptz",
}

def family(t) -> str:
    """DuckDB type -> the family the t2 schema check tells apart:
    timestamp vs timestamp-with-tz, integer, floating (decimal included),
    string; other types by name, nested types by their members' families."""
    if t.id in ("list", "struct", "map"):
        inner = ",".join(f"{n}:{family(c)}" for n, c in t.children)
        return f"{t.id}<{inner}>"
    return FAMILY.get(t.id, t.id)

def type_check(name, spark_rel, duck_rel):
    """The t2 gate reads the dump through DuckDB: a column whose type
    family differs from the oracle result's (e.g. parquet TIMESTAMP_MICROS
    read as TIMESTAMP WITH TIME ZONE against the oracle's TIMESTAMP) fails
    its schema and hash check even when every value compares equal."""
    duck = dict(zip(duck_rel.columns, duck_rel.types))
    for col, st in sorted(zip(spark_rel.columns, spark_rel.types)):
        dt = duck.get(col)
        if dt is not None and family(st) != family(dt):
            return (f"FAIL {name}: col {col} type family {family(st)} (spark "
                    f"{st}) vs {family(dt)} (duck {dt}) — t2 schema would differ")
    return None

def compare(name, spark_df, duck_df):
    s, d = canon(spark_df), canon(duck_df)
    if list(s.columns) != list(d.columns):
        return f"FAIL {name}: columns {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"FAIL {name}: rows {len(s)} vs {len(d)}"
    # The driver's t2 hash stringifies values, so an int64 Spark column vs
    # a float64 DuckDB column (e.g. a HUGEINT sum widened by the pandas
    # bridge: 3 vs 3.0) hash-FAILS even when every value compares equal.
    # Mirror that strictness at the dtype-class level — this is exactly how
    # s20/s21 went driver-red in r9 while the value-tolerant compare below
    # stayed green (sum(BIGINT) -> HUGEINT, the missing CAST ... AS BIGINT).
    def dclass(series):
        k = DTYPE_CLASS.get(series.dtype.kind, series.dtype.kind)
        if k == "obj":
            # Spark parquet DATE columns surface as object(datetime.date)
            # through pandas while DuckDB gives datetime64 — the driver
            # canonicalizes those identically (cohort1 is hash-green), so
            # class date-like objects as timestamps.
            import datetime
            nn = series.dropna()
            if len(nn) and isinstance(nn.iloc[0],
                                      (datetime.date, datetime.datetime)):
                return "ts"
        return k
    for col in s.columns:
        sk, dk = dclass(s[col]), dclass(d[col])
        if sk != dk:
            return (f"FAIL {name}: col {col} dtype class {sk} (spark "
                    f"{s[col].dtype}) vs {dk} (duck {d[col].dtype}) — "
                    f"driver hash would differ")
    for col in s.columns:
        sa, da = s[col].values, d[col].values
        for i in range(len(sa)):
            if not cell_eq(sa[i], da[i]):
                return (f"FAIL {name}: col {col} row {i}: "
                        f"spark={sa[i]!r} duck={da[i]!r}")
    return f"OK   {name} ({len(s)} rows)"

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if len(sys.argv) > 3:  # optional subset: comma-separated names
        keep = set(sys.argv[3].split(","))
        oracle = {k: v for k, v in oracle.items() if k in keep}
    failures = 0
    for name in sorted(oracle):
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output"); failures += 1; continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        try:
            duck_rel = con.sql(oracle[name])
            duck_df = duck_rel.df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); failures += 1; continue
        r = (type_check(name, con.sql(f"SELECT * FROM read_parquet({files!r})"), duck_rel)
             or compare(name, spark_df, duck_df))
        print(r)
        if r.startswith("FAIL"):
            failures += 1
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'} "
          f"({len(oracle)} oracled queries)")
    sys.exit(1 if failures else 0)

if __name__ == "__main__":
    main()
