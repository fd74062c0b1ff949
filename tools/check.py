#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate (dev tool, not shipped code).

Runs after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
for each query result parquet, executes the matching oracle SQL in DuckDB
over the same sfDir tables and compares schema + sorted rows.
"""
import json, sys, glob, os
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for compare; floats are NOT rounded -- the driver's
    # gate hashes exact values, so the local mirror must be exactly as strict
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def dtype_class(s: pd.Series) -> str:
    """Coarse dtype class: a float column on one side vs an integer column on
    the other hashes differently driver-side (2014.0 vs 2014) even when the
    values compare equal -- e.g. DuckDB SUM(BIGINT) -> HUGEINT -> float64.
    """
    if pd.api.types.is_float_dtype(s): return "float"
    if pd.api.types.is_integer_dtype(s): return "int"
    if pd.api.types.is_datetime64_any_dtype(s): return "ts"
    if pd.api.types.is_bool_dtype(s): return "bool"
    return "str"

def main(sf_dir, out_dir):
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    # the oracle SQL names fixture files relative to the checkout root
    # (SparkEntry.FixturesRelDir): resolve them against this checkout
    con.execute(f"SET file_search_path = '{os.path.dirname(os.path.dirname(os.path.abspath(__file__)))}'")
    for name in ["region","nation","customer","supplier","part","orders",
                 "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{name}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    n_ok = n_bad = 0
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(f"{d}/*.parquet")
        if not files:
            print(f"FAIL {name}: no parquet output"); n_bad += 1; continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracle:
            print(f"SKIP {name}: rows-only check -> rows={len(got)}")
            if len(got) == 0: n_bad += 1
            continue
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}"); n_bad += 1; continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(e.columns)}"); n_bad += 1; continue
        if len(g) != len(e):
            print(f"FAIL {name}: rows {len(g)} vs {len(e)}"); n_bad += 1; continue
        skew = [c for c in g.columns if dtype_class(g[c]) != dtype_class(e[c])]
        if skew:
            print(f"FAIL {name}: dtype-class skew on {skew} "
                  f"({[(dtype_class(g[c]), dtype_class(e[c])) for c in skew]})")
            n_bad += 1; continue
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
            # the driver's hash is IEEE sign-bit sensitive: -0.0 != +0.0
            # there even though assert_frame_equal treats them as equal
            import numpy as np
            sgn = []
            for c in g.columns:
                if pd.api.types.is_float_dtype(g[c]):
                    gz = g[c].to_numpy(dtype="float64")
                    ez = e[c].to_numpy(dtype="float64")
                    bad = (gz == 0.0) & (ez == 0.0) & \
                          (np.signbit(gz) != np.signbit(ez))
                    if bad.any(): sgn.append((c, int(bad.sum())))
            if sgn:
                print(f"FAIL {name}: zero sign-bit mismatch {sgn}"); n_bad += 1
            else:
                print(f"OK   {name}: {len(g)} rows"); n_ok += 1
        except AssertionError as ex:
            print(f"FAIL {name}: value mismatch\n{str(ex)[:500]}"); n_bad += 1
    print(f"\n{n_ok} ok, {n_bad} bad")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
