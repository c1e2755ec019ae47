#!/usr/bin/env python3
"""Dev-only harness mimicking the driver's correctness gate:
run Verify's parquet dumps against the DuckDB oracle SQL.

Usage: python3 dev/check_oracle.py <sfDir> <verifyOutDir>
"""
import json, sys, glob
import duckdb, pandas as pd, numpy as np

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for f in glob.glob(f"{sfdir}/*.parquet"):
    name = f.split("/")[-1].replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify everything for a stable sort/compare (lists/structs incl.)
    s = df.map(lambda v: repr(v))
    return s.sort_values(by=list(s.columns)).reset_index(drop=True)

fails, passes = [], []
for name, sql in sorted(oracle.items()):
    try:
        want = con.execute(sql).fetchdf()
    except Exception as e:
        fails.append((name, f"oracle error: {e}")); continue
    try:
        got = pd.concat([pd.read_parquet(p) for p in glob.glob(f"{outdir}/{name}/*.parquet")])
    except Exception as e:
        fails.append((name, f"spark output missing: {e}")); continue
    if sorted(got.columns) != sorted(want.columns):
        fails.append((name, f"columns differ: spark={sorted(got.columns)} oracle={sorted(want.columns)}")); continue
    # Driver-parity: its comparator pandas-sorts raw columns, which throws
    # "unhashable type" on ndarray/dict cells (q16/q27 in round 1). Flag any
    # non-scalar output column as a failure here, before the real gate does.
    bad = [c for c in got.columns
           if got[c].dtype == object and any(isinstance(v, (np.ndarray, list, dict))
                                             for v in got[c].dropna().head(5))]
    if bad:
        fails.append((name, f"non-scalar output columns (driver gate would err): {bad} — emit to_json")); continue
    if len(got) != len(want):
        fails.append((name, f"row count: spark={len(got)} oracle={len(want)}")); continue
    g, w = canon(got), canon(want)
    if g.equals(w):
        passes.append((name, len(got))); continue
    # find first differing cell for diagnostics
    diff = (g != w)
    cells = list(zip(*np.where(diff.values)))
    r, c = cells[0]
    coln = g.columns[c]
    fails.append((name, f"{diff.values.sum()} cells differ; first at row {r} col {coln}: "
                        f"spark={g.iloc[r, c]} oracle={w.iloc[r, c]}"))

for n, rows in passes:
    print(f"PASS {n} ({rows} rows)")
for n, msg in fails:
    print(f"FAIL {n}: {msg}")
print(f"\n{len(passes)} pass / {len(fails)} fail")
sys.exit(1 if fails else 0)
