#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/verify_local.py <sfDir> <outDir> [name ...]

Assumes `sbt "runMain graft.Verify <sfDir> <outDir>"` already ran. For each
query, loads the engine's parquet output and the DuckDB oracle result, sorts
columns by name, sorts rows, compares.

STRICT by default (mirrors the driver's hash — round-8 shipped two queries
green under the old 9-SIGNIFICANT-digit canon that the driver hashed red;
the measured failures pin the driver at 9 DECIMAL places + dtype-sensitive:
join_bucketed's 7e-7 absolute drift on a 5.9e8 revenue failed it while
1-ulp drift on O(1)-magnitude values passes):
  - column dtype KINDS must match (int vs float vs bool vs object) — catches
    DuckDB HUGEINT promotion landing an integer column as float64;
  - doubles compare after rounding to 9 DECIMAL places, so a large-magnitude
    double must be BIT-IDENTICAL between engines (ulp(1e8) ≈ 1.5e-8 > 1e-9)
    — catches unrounded big-double sums whose summation tree differs; the
    repo's cents-rounding convention exists exactly to satisfy this.
Set VERIFY_LAX=1 to fall back to the old 9-significant-digit canon when
triaging (tells you whether a red row is a value bug or a precision leak).
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

LAX = os.environ.get("VERIFY_LAX", "") not in ("", "0")

def kinds(df: pd.DataFrame) -> dict:
    """Column -> dtype kind, with pandas' nullable-int-to-float lift
    applied identically on both sides (both come through pandas)."""
    return {c: df[c].dtype.kind for c in df.columns}

# One rendering for every null in object and boolean columns: pandas
# surfaces a SQL NULL there as None, NaN or pd.NA depending on the reader
# (a nullable parquet boolean arrives as None, the same DuckDB column as
# NaN), and the driver's hash sees one NULL.
NULL = "<NULL>"

def text(x) -> str:
    if x is None or x is pd.NA or (isinstance(x, float) and x != x):
        return NULL
    return str(x)

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if (s.dtype == object or np.issubdtype(s.dtype, np.bool_)
                or str(s.dtype) == "boolean"):
            out[c] = s.map(text)
        elif np.issubdtype(s.dtype, np.floating):
            def rf(x):
                if pd.isna(x):
                    return "NaN"
                if x == 0:
                    return "0"   # merges 0.0 / -0.0, like the old canon
                return f"{x:.9e}" if LAX else f"{x:.9f}"
            out[c] = s.map(rf)
        elif np.issubdtype(s.dtype, np.integer):
            out[c] = s.astype("int64").astype(str)
        else:
            out[c] = s.astype(str)
    r = pd.DataFrame(out)
    return r.sort_values(by=list(r.columns)).reset_index(drop=True)

def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        pq_dir = os.path.join(outdir, name)
        files = glob.glob(os.path.join(pq_dir, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no engine output at {pq_dir}")
            n_fail += 1
            continue
        try:
            mine_raw = pd.concat([pd.read_parquet(f) for f in files])
            ref_raw = con.execute(oracle[name]).df()
            mine, ref = canon(mine_raw), canon(ref_raw)
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        mk, rk = kinds(mine_raw), kinds(ref_raw)
        kind_drift = {c: (mk[c], rk[c]) for c in mk
                      if c in rk and mk[c] != rk[c]}
        if list(mine.columns) != list(ref.columns):
            print(f"FAIL {name}: columns {list(mine.columns)} vs oracle {list(ref.columns)}")
            n_fail += 1
        elif kind_drift and not LAX:
            print(f"FAIL {name}: dtype kind drift (mine vs oracle): {kind_drift}"
                  " — the driver hashes dtypes; ::BIGINT-wrap HUGEINT-promoting"
                  " oracle arithmetic")
            n_fail += 1
        elif len(mine) != len(ref):
            print(f"FAIL {name}: {len(mine)} rows vs oracle {len(ref)}")
            n_fail += 1
        elif not mine.equals(ref):
            neq = (mine != ref).any(axis=1)
            idx = mine.index[neq][:3]
            print(f"FAIL {name}: {int(neq.sum())}/{len(mine)} rows differ; first diffs:")
            for i in idx:
                print(f"  mine  : {mine.loc[i].to_dict()}")
                print(f"  oracle: {ref.loc[i].to_dict()}")
            if not LAX:
                print("  (full-precision compare; VERIFY_LAX=1 re-runs at 9"
                      " digits — if that passes, round/floor the unstable"
                      " column on BOTH sides)")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(mine)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
