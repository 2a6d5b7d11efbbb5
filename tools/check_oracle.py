#!/usr/bin/env python3
"""Local pre-validation of SparkEntry.oracleSql vs Verify parquet dumps.

Replicates (conservatively) the driver's DuckDB compare: for each query,
run the oracle SQL in DuckDB over the same sf parquet tables, load the
Spark result parquet, sort columns by name, and compare row-by-row.
Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import json, sys, glob, math
import duckdb
import pyarrow.parquet as pq
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # row order: trust the query's ORDER BY; but also try sorted compare
    return df.reset_index(drop=True)

def values_equal(a, b):
    # STRICT, driver-style: the driver hashes rendered values with no
    # tolerance, so an int64 column on one side and float64 on the other
    # (e.g. DuckDB HUGEINT sum -> pandas float) MUST fail here even when
    # numerically equal ("294" vs "294.0" hash-mismatch). Round-3 lesson:
    # the old 1e-9 tolerance masked exactly that and 5 queries failed the
    # real gate while passing locally.
    import numpy as np
    if a is None and b is None:
        return True
    fa = isinstance(a, (float, np.floating))
    fb = isinstance(b, (float, np.floating))
    if fa != fb:
        return False
    if fa:
        af, bf = float(a), float(b)
        if math.isnan(af) and math.isnan(bf):
            return True
        return af == bf
    return str(a) == str(b)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    import os
    # tolerance-banded approx tier (r21 verdict #5): exact-answer
    # acceptance bands for queries whose values are engine-specific
    # sketches (q62 HLL, q80 GK percentile). For each approx column c the
    # band SQL yields c_lo/c_hi; shared columns must match exactly.
    tol_path = f"{out_dir}/oracle_tolerance.json"
    tolerance = json.load(open(tol_path)) if os.path.exists(tol_path) else {}
    # selection manifest (r21 ADVICE, medium): a selected query whose
    # DataFrame construction threw leaves NO dump dir — with the manifest
    # that reads as FAIL instead of "not selected". Older dumps without a
    # manifest keep the lenient subset behavior.
    man_path = f"{out_dir}/selected.json"
    manifest = set(json.load(open(man_path))) if os.path.exists(man_path) else None
    n_pass = n_fail = n_skip = n_tol = 0
    checks = sorted(set(oracle) | set(tolerance))
    for name in checks:
        sql = oracle.get(name)
        spark_dir = f"{out_dir}/{name}"
        if not os.path.isdir(spark_dir):
            if manifest is not None and name in manifest:
                print(f"FAIL {name}: selected but no dump dir "
                      "(query threw before its write?)")
                n_fail += 1
            else:
                # subset Verify run: the query was not selected, so no dump
                # dir exists — not a failure (r20 verdict #4: a 7-query
                # subset run must exit 0, not report 221 phantom fails)
                n_skip += 1
            continue
        if sql is None:
            # tolerance-only query (approx tier): band adjudication. The
            # row loop sits inside the try too: a malformed dump (a null
            # or non-numeric band cell) FAILs this query, not the checker.
            try:
                sdf = norm(pq.read_table(glob.glob(f"{spark_dir}/*.parquet")[0]).to_pandas())
                bdf = con.sql(tolerance[name]).df()
                if len(sdf) != len(bdf):
                    print(f"FAIL {name}: rows spark={len(sdf)} bounds={len(bdf)}")
                    n_fail += 1; continue
                bad = None
                for i in range(len(sdf)):
                    for c in sdf.columns:
                        v = sdf[c].iloc[i]
                        if c in bdf.columns:
                            if not values_equal(v, bdf[c].iloc[i]) and str(v) != str(bdf[c].iloc[i]):
                                bad = (i, c, v, bdf[c].iloc[i], "exact"); break
                        elif f"{c}_lo" in bdf.columns:
                            lo, hi = float(bdf[f"{c}_lo"].iloc[i]), float(bdf[f"{c}_hi"].iloc[i])
                            if not (lo <= float(v) <= hi):
                                bad = (i, c, v, (lo, hi), "band"); break
                        else:
                            bad = (i, c, v, None, "no-band-column"); break
                    if bad: break
            except Exception as e:
                print(f"FAIL {name}: {str(e)[:200]}"); n_fail += 1; continue
            if bad:
                print(f"FAIL {name} (tolerance): row {bad[0]} col {bad[1]}: "
                      f"spark={bad[2]!r} vs {bad[3]!r} [{bad[4]}]")
                n_fail += 1
            else:
                print(f"PASS {name} ({len(sdf)} rows, tolerance band)")
                n_tol += 1
            continue
        files = glob.glob(f"{spark_dir}/*.parquet")
        if not files:
            # the dir EXISTS but holds no parquet: the query was selected
            # and its dump failed — a real failure, kept loud
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            sdf = norm(pq.read_table(files[0]).to_pandas())
            ddf = norm(con.sql(sql).df())
        except Exception as e:
            print(f"FAIL {name}: {str(e)[:200]}"); n_fail += 1; continue
        if list(sdf.columns) != list(ddf.columns):
            print(f"FAIL {name}: cols spark={list(sdf.columns)} duck={list(ddf.columns)}")
            n_fail += 1; continue
        if len(sdf) != len(ddf):
            print(f"FAIL {name}: rows spark={len(sdf)} duck={len(ddf)}"); n_fail += 1; continue
        bad = None
        for i in range(len(sdf)):
            for c in sdf.columns:
                a, b = sdf[c].iloc[i], ddf[c].iloc[i]
                a = None if (a is None or (isinstance(a, float) and math.isnan(a)) or a is pd.NaT) else a
                b = None if (b is None or (isinstance(b, float) and math.isnan(b)) or b is pd.NaT) else b
                if not values_equal(a, b):
                    bad = (i, c, a, b); break
            if bad: break
        if bad:
            print(f"FAIL {name}: row {bad[0]} col {bad[1]}: spark={bad[2]!r} duck={bad[3]!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sdf)} rows)")
            n_pass += 1
    skip = f", {n_skip} not selected" if n_skip else ""
    tolr = f", {n_tol} tolerance-pass" if n_tol else ""
    print(f"== {n_pass} pass, {n_fail} fail{skip}{tolr} ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
