#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB over the sf tables, compare to the Verify parquet dump (columns
sorted by name, rows sorted, values compared). An oracle with no dump is
a failure."""
import sys, json, glob, math
import duckdb

out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_out"
sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

con = duckdb.connect()
for f in glob.glob(f"{sf_dir}/*.parquet"):
    name = f.split("/")[-1].replace(".parquet", "")
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")

oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
fails, passes, rows_only = [], [], []

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return v
    return v

# a query that threw in Verify leaves no dump: its oracle has nothing to
# compare against, which is a failure, not a skip
dumped = {qdir.split("/")[-1] for qdir in glob.glob(f"{out_dir}/q_*")}
for name in sorted(set(oracles) - dumped):
    fails.append((name, "no dump (query failed in Verify?)"))

for qdir in sorted(glob.glob(f"{out_dir}/q_*")):
    name = qdir.split("/")[-1]
    spark_df = con.sql(f"SELECT * FROM '{qdir}/*.parquet'").df()
    if name not in oracles:
        rows_only.append((name, len(spark_df)))
        continue
    try:
        duck_df = con.sql(oracles[name]).df()
    except Exception as e:
        fails.append((name, f"oracle SQL error: {str(e)[:200]}"))
        continue
    sc = sorted(spark_df.columns); dc = sorted(duck_df.columns)
    if sc != dc:
        fails.append((name, f"schema mismatch: spark={sc} duck={dc}"))
        continue
    # defense: pandas cannot sort list/ndarray cells — tuple-ize them
    def tupleize(df):
        for c in df.columns:
            if df[c].map(lambda x: hasattr(x, "__len__") and not isinstance(x, (str, bytes))).any():
                df[c] = df[c].map(lambda x: tuple(x.tolist()) if hasattr(x, "tolist")
                                  else (tuple(x) if isinstance(x, list) else x))
        return df
    s = tupleize(spark_df[sc].copy()).sort_values(sc).reset_index(drop=True)
    d = tupleize(duck_df[dc].copy()).sort_values(dc).reset_index(drop=True)
    # dtype-class guard: the driver's hash is dtype-sensitive — an oracle
    # that leaks HUGEINT (e.g. sum(BIGINT)) materializes as float64 in
    # pandas while Spark writes int64; values compare equal but the hash
    # diverges (q_lr_quality, r6). Flag int-vs-float divergence hard.
    dt_bad = [c for c in sc
              if s[c].dtype.kind in "iu" and d[c].dtype.kind == "f"
              or s[c].dtype.kind == "f" and d[c].dtype.kind in "iu"]
    if dt_bad:
        fails.append((name, "dtype class mismatch (int vs float): " +
                      ", ".join(f"{c} spark={s[c].dtype} duck={d[c].dtype}"
                                for c in dt_bad)))
        continue
    if len(s) != len(d):
        fails.append((name, f"row count: spark={len(s)} duck={len(d)}"))
        continue
    mismatch = None
    for c in sc:
        sv = [norm(x) for x in s[c].tolist()]
        dv = [norm(x) for x in d[c].tolist()]
        for i, (a, b) in enumerate(zip(sv, dv)):
            eq = (a == b) or (a is None and b is None) or \
                 (isinstance(a, float) and isinstance(b, float) and
                  (a == b or (math.isnan(a) and math.isnan(b))))
            # pandas NaN for missing
            try:
                if not eq and ((a is None or (isinstance(a,float) and math.isnan(a))) and
                               (b is None or (isinstance(b,float) and math.isnan(b)))):
                    eq = True
            except Exception:
                pass
            if not eq:
                mismatch = f"col {c} row {i}: spark={a!r} duck={b!r}"
                break
        if mismatch: break
    if mismatch: fails.append((name, mismatch))
    else: passes.append((name, len(s)))

print(f"== PASS ({len(passes)}) ==")
for n, r in passes: print(f"  {n}: {r} rows")
print(f"== ROWS-ONLY ({len(rows_only)}) ==")
for n, r in rows_only: print(f"  {n}: {r} rows")
print(f"== FAIL ({len(fails)}) ==")
for n, m in fails: print(f"  {n}: {m}")
sys.exit(1 if fails else 0)
