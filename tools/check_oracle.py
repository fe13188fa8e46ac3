#!/usr/bin/env python3
"""Local pre-check mimicking the driver's t2 gate: run each oracle SQL in
DuckDB over the sf tables, compare to the Verify parquet dumps
(column-name-sorted, row-sorted, exact value match with small float
tolerance reported separately).

    check_oracle.py SF_DIR OUT_DIR
    check_oracle.py SF_DIR OUT_DIR --against OTHER_OUT_DIR

With --against, no oracle runs: every query dumped in either directory
is compared between the two dumps exactly (same normalization, floats
bit-equal), and the names that differ are printed."""
import sys, json, glob, os
import pandas as pd
import numpy as np

against = None
if "--against" in sys.argv:
    i = sys.argv.index("--against")
    against = sys.argv[i + 1]
    del sys.argv[i:i + 2]

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"


def norm(df):
    """Driver-style normalize: sort columns by name, sort rows by all cols.
    Cells that do not order (arrays, structs) compare by their repr."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object and df[c].map(lambda v: isinstance(v, (np.ndarray, list, dict))).any():
            df[c] = df[c].map(lambda v: repr(v.tolist() if isinstance(v, np.ndarray) else v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def dumps(d):
    return {os.path.basename(p) for p in glob.glob(f"{d}/*") if os.path.isdir(p)}


if against:
    names = sorted(dumps(out_dir) | dumps(against))
    differ = []
    for name in names:
        paths = [f"{out_dir}/{name}", f"{against}/{name}"]
        if not all(os.path.isdir(p) for p in paths):
            differ.append((name, "dumped on one side only")); continue
        a, b = (norm(pd.read_parquet(p)) for p in paths)
        if list(a.columns) != list(b.columns) or len(a) != len(b):
            differ.append((name, f"shape {list(a.columns)}x{len(a)} vs {list(b.columns)}x{len(b)}"))
            continue
        cols = [c for c in a.columns
                if not (a[c].astype(str).values == b[c].astype(str).values).all()]
        if cols:
            differ.append((name, f"columns {cols}"))
    print(f"== {len(names)} queries compared, {len(differ)} differ ==")
    for n, m in differ: print(f"  {n}: {m}")
    sys.exit(1 if differ else 0)

import duckdb

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p)[:-len(".parquet")]
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
ok, bad = [], []
for name, sql in sorted(oracle.items()):
    spark_path = f"{out_dir}/{name}"
    if not os.path.isdir(spark_path):
        bad.append((name, "NO SPARK OUTPUT")); continue
    try:
        odf = con.sql(sql).df()
    except Exception as e:
        bad.append((name, f"ORACLE SQL ERROR: {e}")); continue
    sdf = pd.read_parquet(spark_path)
    if sorted(odf.columns) != sorted(sdf.columns):
        bad.append((name, f"SCHEMA: oracle={sorted(odf.columns)} spark={sorted(sdf.columns)}")); continue
    o, s_ = norm(odf), norm(sdf)
    if len(o) != len(s_):
        bad.append((name, f"ROWS: oracle={len(o)} spark={len(s_)}")); continue
    mismatch = []
    for c in o.columns:
        oc, sc = o[c], s_[c]
        if oc.dtype.kind == "f" or sc.dtype.kind == "f":
            eq = np.isclose(oc.astype(float), sc.astype(float), rtol=0, atol=1e-9, equal_nan=True)
            exact = (oc.astype(float).values == sc.astype(float).values) | (oc.isna() & sc.isna()).values
            if not eq.all():
                mismatch.append(f"{c}: {int((~eq).sum())} diffs (first: {oc[~eq].iloc[0]} vs {sc[~eq].iloc[0]})")
            elif not exact.all():
                mismatch.append(f"{c}: FLOAT-INEXACT {int((~exact).sum())} rows (tolerance-close)")
        else:
            eq = (oc.astype(str).values == sc.astype(str).values)
            if not eq.all():
                mismatch.append(f"{c}: {int((~eq).sum())} diffs (first: {oc[~eq].iloc[0]!r} vs {sc[~eq].iloc[0]!r})")
    if mismatch:
        bad.append((name, "; ".join(mismatch)))
    else:
        ok.append((name, len(o)))

print(f"== OK ({len(ok)}) ==")
for n, r in ok: print(f"  {n}: {r} rows")
print(f"== BAD ({len(bad)}) ==")
for n, m in bad: print(f"  {n}: {m}")
no_oracle = [n for n in dumps(out_dir) if n not in oracle]
print(f"== rows-only (no oracle): {sorted(no_oracle)}")
sys.exit(1 if bad else 0)
