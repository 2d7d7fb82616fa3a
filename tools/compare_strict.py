#!/usr/bin/env python3
"""Strict local stand-in for the driver's hash gate.

Usage: python3 tools/compare_strict.py <outDir> <sfDir>

Reads <outDir>/<name>/ parquet (Spark results) and <outDir>/oracle_sql.json,
runs each SQL in DuckDB with views over <sfDir>/<table>.parquet (a file,
or a Spark parquet directory from StageScaledCorpus), and compares:
columns sorted by name, rows sorted by all columns, exact values AND
canonicalized dtypes.  The driver hashes canonicalized values, so a
DuckDB HUGEINT (-> float64 / object in pandas) against a Spark BIGINT
(int64) is a hash mismatch even when every value is equal: a dtype
mismatch FAILs.  Its line still runs the value check (numbers compared
as float across the two dtypes) and says whether the values match, to
tell a dtype bug from a value bug.

Calibrated against the driver's own labels (CORRECTNESS_r12: 231
queries, 229 PASS / 2 FAIL): the driver's canonicalization provably
EQUALIZES int width (int32 == int64: q104/q112/q131/q189/q214/q219
passed), datetime unit (ns == us: q159/q197), DATE vs midnight
timestamp (q4/q6/q14/q15/q206), and None vs NaN nulls (q213) — while
int64 vs float64/object (the HUGEINT class) FAILS (q226/q229).  canon()
below applies exactly those equalizations and nothing more.

Float columns are compared BITWISE for the zero sign: the driver hashes
bit patterns, so DuckDB -0.0 vs Spark 0.0 is a hash mismatch even
though IEEE `==` calls them equal — exactly how q234 passed this tool
but failed CORRECTNESS_r13 (r13 VERDICT #2).  NaN vs NaN still counts
as equal (the driver canonicalizes nulls/NaNs; q213 precedent).
"""
import sys, json, glob, os, datetime
import duckdb
import numpy as np
import pandas as pd

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try: s = s.dt.tz_localize(None)
            except Exception: pass
            df[c] = s.astype("datetime64[us]")       # ns == us (driver)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")                # int32 == int64 (driver)
        elif s.dtype == object:
            nn = s.dropna()
            if len(nn) and all(isinstance(v, datetime.date)
                               and not isinstance(v, datetime.datetime)
                               for v in nn):
                df[c] = pd.to_datetime(s)            # DATE == midnight ts
                df[c] = df[c].astype("datetime64[us]")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def mismatched(sdf: pd.DataFrame, odf: pd.DataFrame) -> list:
    """Columns whose values differ."""
    bad = []
    for c in sdf.columns:
        a, b = sdf[c], odf[c]
        try:
            if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
                av = a.to_numpy(dtype="float64")
                bv = b.to_numpy(dtype="float64")
                both_nan = np.isnan(av) & np.isnan(bv)
                # bit-faithful: value equal AND same zero sign
                eq = (av == bv) & (np.signbit(av) == np.signbit(bv))
                ok = (eq | both_nan).all()
            else:
                # None == NaN (driver: q213) — mask all NA flavors
                # to one sentinel before the string compare
                a2 = a.where(a.notna(), pd.NA)
                b2 = b.where(b.notna(), pd.NA)
                ok = (a2.astype(str) == b2.astype(str)).all()
        except Exception:
            ok = False
        if not ok: bad.append(c)
    return bad

def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            # staged scale corpora (StageScaledCorpus) write Spark
            # parquet DIRECTORIES; driver testdata are single files
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        spark_files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not spark_files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            sdf = canon(pd.concat([pd.read_parquet(f) for f in spark_files]))
            odf = canon(con.sql(sql).df())
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        if list(sdf.columns) != list(odf.columns):
            print(f"FAIL {name}: columns {list(sdf.columns)} != {list(odf.columns)}")
            n_fail += 1; continue
        if len(sdf) != len(odf):
            print(f"FAIL {name}: rows {len(sdf)} != {len(odf)}"); n_fail += 1; continue
        dt_bad = [(c, str(sdf[c].dtype), str(odf[c].dtype))
                  for c in sdf.columns if str(sdf[c].dtype) != str(odf[c].dtype)]
        bad = mismatched(sdf, odf)
        if dt_bad:
            values = f"values differ in {bad}" if bad else "values match"
            print(f"FAIL {name}: dtype mismatch {dt_bad} ({values})")
            n_fail += 1; continue
        if bad:
            print(f"FAIL {name}: mismatched cols {bad}")
            for c in bad[:3]:
                m = (sdf[c].astype(str) != odf[c].astype(str))
                i = m[m].index[:3]
                print(f"  {c}: spark={sdf[c][i].tolist()} oracle={odf[c][i].tolist()}")
            n_fail += 1; continue
        print(f"PASS {name} ({len(sdf)} rows)"); n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
