#!/usr/bin/env python3
"""Local pre-validation of SparkEntry oracles, mimicking the driver's
correctness gate: read each <out>/<name> parquet (Spark result), run the
matching oracle SQL in DuckDB over the same sf dir, compare schema + rows
exactly (columns sorted by name, rows sorted).

An input table is `<sf>/<t>.parquet`, one file or a directory of part files
as Spark writes it. Each PASS/FAIL line carries the oracle query's DuckDB
seconds; the slowest ten are listed before the `== N pass, M fail ==`
summary, which stays the last line."""
import json, sys, os, time
import duckdb
import pyarrow.parquet as pq
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    secs = {}  # oracle query -> DuckDB seconds
    wall0 = time.perf_counter()

    def duck(name):
        return f"duckdb {secs[name]:.3f}s" if name in secs else "duckdb not run"

    for name, sql in sorted(oracle.items()):
        res_dir = f"{out_dir}/{name}"
        if not os.path.isdir(res_dir):
            print(f"FAIL {name} [{duck(name)}]: no spark output dir")
            n_fail += 1; continue
        try:
            spark_df = pq.read_table(res_dir).to_pandas()
            t0 = time.perf_counter()
            try:
                duck_df = con.execute(sql).df()
            finally:
                secs[name] = time.perf_counter() - t0
        except Exception as e:
            print(f"FAIL {name} [{duck(name)}]: {type(e).__name__}: {e}")
            n_fail += 1; continue
        dsec = duck(name)
        s = spark_df.reindex(sorted(spark_df.columns), axis=1)
        d = duck_df.reindex(sorted(duck_df.columns), axis=1)
        if list(s.columns) != list(d.columns):
            print(f"FAIL {name} [{dsec}]: cols spark={list(s.columns)} duck={list(d.columns)}")
            n_fail += 1; continue
        if len(s) != len(d):
            print(f"FAIL {name} [{dsec}]: rows spark={len(s)} duck={len(d)}")
            n_fail += 1; continue
        s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
        d = d.sort_values(by=list(d.columns)).reset_index(drop=True)
        # physical dtype parity first: a strict driver hash may compare raw
        # bytes (DuckDB HUGEINT sums and TINYINT bit_count are the usual
        # culprits — cast the oracle, not the Spark side)
        dt = [c for c in s.columns if str(s[c].dtype) != str(d[c].dtype)]
        if dt:
            print(f"FAIL {name} [{dsec}]: dtype mismatch {[(c, str(s[c].dtype), str(d[c].dtype)) for c in dt]}")
            n_fail += 1; continue
        # normalize dtypes for compare
        mismatch = None
        for c in s.columns:
            sv, dv = s[c], d[c]
            try:
                if sv.dtype.kind in "fc" or dv.dtype.kind in "fc":
                    svf = sv.astype(float); dvf = dv.astype(float)
                    neq = ~((svf == dvf) | (svf.isna() & dvf.isna()))
                else:
                    neq = sv.astype(object).ne(dv.astype(object))
            except Exception as e:
                mismatch = f"col {c}: compare error {e}"; break
            if neq.any():
                i = neq.idxmax()
                mismatch = (f"col {c}: {int(neq.sum())} diffs, first at row {i}: "
                            f"spark={sv.iloc[i]!r} duck={dv.iloc[i]!r}")
                break
        if mismatch:
            print(f"FAIL {name} [{dsec}]: {mismatch}"); n_fail += 1
        else:
            print(f"PASS {name} ({len(s)} rows, {dsec})"); n_pass += 1
    slowest = sorted(secs.items(), key=lambda kv: -kv[1])[:10]
    print(f"-- slowest {len(slowest)} oracle queries by DuckDB s (DuckDB "
          f"{sum(secs.values()):.1f} s of {time.perf_counter() - wall0:.1f} s) --")
    for name, sec in slowest:
        print(f"  {sec:8.3f}  {name}")
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    sys.exit(main(sf, out))
