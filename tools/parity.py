#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate.

Reads the Verify dump (<outDir>/<name>/ parquet + oracle_sql.json), runs each
oracle SQL in DuckDB over the raw testdata tables, and compares: DuckDB's
read-back column types of the dump against the oracle SQL's result types,
then columns sorted by name, rows compared exactly (NaN==NaN), dtypes
value-compatible.

Usage: python3 tools/parity.py <sfDir> <verifyOutDir>
"""
import json, sys, glob, math, re
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

# Type families whose members render a value identically (3 from INTEGER
# or BIGINT, 1.5 from DOUBLE or DECIMAL(2,1)); the oracle-green registry
# mixes widths within each. TIMESTAMP WITH TIME ZONE is not folded: it
# renders an offset that TIMESTAMP does not.
TYPE_FAMILIES = [
    (re.compile(r"\bU?(TINYINT|SMALLINT|INTEGER|BIGINT|HUGEINT)\b"), "INT"),
    (re.compile(r"\b(FLOAT|DOUBLE|DECIMAL\(\d+,\d+\))"), "NUM"),
]

def duck_types(rel) -> dict:
    return {c: str(t) for c, t in zip(rel.columns, rel.types)}

def type_family(t: str) -> str:
    for pattern, family in TYPE_FAMILIES:
        t = pattern.sub(family, t)
    return t

def compare_types(name, spark_types, duck_types_):
    """The oracle gate reads the dump back through DuckDB, so a parquet type that
    DuckDB maps differently from the oracle's result type (e.g. a Spark
    TIMESTAMP_MICROS column read back as TIMESTAMP WITH TIME ZONE against the
    oracle's TIMESTAMP) changes the gate's hash even when every value
    matches. Pandas erases that difference; compare DuckDB's own types."""
    for col in sorted(set(spark_types) & set(duck_types_)):
        st, dt = spark_types[col], duck_types_[col]
        if type_family(st) != type_family(dt):
            return (f"FAIL {name}: col {col} read-back type {st} vs oracle "
                    f"type {dt} — oracle hash would differ")
    return None

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
        spark_rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        try:
            duck_rel = con.sql(oracle[name])
            duck_df = duck_rel.df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); failures += 1; continue
        r = (compare_types(name, duck_types(spark_rel), duck_types(duck_rel))
             or compare(name, spark_df, duck_df))
        print(r)
        if r.startswith("FAIL"):
            failures += 1
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'} "
          f"({len(oracle)} oracled queries)")
    sys.exit(1 if failures else 0)

if __name__ == "__main__":
    main()
