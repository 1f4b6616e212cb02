#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate (dev tooling only; the
shipped engine is the Scala code under src/).

Usage: python3 tools/check.py <sfDir> <outDir> [query ...]
       python3 tools/check.py --same-as <parentOutDir> <outDir> [query ...]

Reads outDir/<name>/ parquet written by graft.Verify, runs the matching
oracle SQL from outDir/oracle_sql.json in DuckDB over the sfDir tables,
and compares row count, column names, and (column-name-sorted, row-sorted)
values.

--same-as compares each of outDir's dumped results with the same key's
dump in parentOutDir (another graft.Verify run, e.g. of the parent
commit) after the same canonicalization, exactly: dtypes and values. It
lists every key that differs or is missing on either side, notes the
keys whose oracle SQL text changed, and exits 1 if any key differs or is
missing — the result-identity check for a refactor."""
import json, sys, glob, os
import duckdb
import pyarrow.parquet as pq
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def load_result(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pq.read_table(files[0] if len(files) == 1 else path).to_pandas()

def canon(df):
    df = df[sorted(df.columns)]
    # normalize dtypes for compare: timestamps → iso strings; integer
    # widths upcast to int64 and float32 → float64 (the driver tolerates
    # width drift, NOT int-vs-float — a HUGEINT sum fetched as float64
    # against Spark's int64 is a real driver hash fail).
    out = df.copy()
    for c in out.columns:
        dt = str(out[c].dtype)
        if dt.startswith("datetime"):
            out[c] = out[c].astype("datetime64[us]").astype(str)
        elif out[c].dtype == object:
            out[c] = out[c].astype(str)
        elif dt.startswith(("int", "uint")):
            out[c] = out[c].astype("int64")
        elif dt == "float32":
            out[c] = out[c].astype("float64")
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out

def result_names(out_dir):
    return {d for d in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, d))}

def same_as(parent_dir, out_dir, only):
    names = result_names(parent_dir) | result_names(out_dir)
    if only:
        names &= only
    bad = []
    for name in sorted(names):
        a = b = None
        if os.path.isdir(os.path.join(parent_dir, name)):
            a = load_result(os.path.join(parent_dir, name))
        if os.path.isdir(os.path.join(out_dir, name)):
            b = load_result(os.path.join(out_dir, name))
        if a is None or b is None:
            side = "parent" if a is None else "change"
            print(f"MISSING {name}: no result parquet in the {side} dump")
            bad.append(name); continue
        try:
            pd.testing.assert_frame_equal(canon(a), canon(b), check_dtype=True,
                                          check_exact=True)
        except AssertionError as ex:
            print(f"DIFFER {name}\n{str(ex)[:500]}")
            bad.append(name)
    sql = [json.load(open(f"{d}/oracle_sql.json")) for d in (parent_dir, out_dir)]
    for name in sorted(set(sql[0]) | set(sql[1])):
        if (not only or name in only) and sql[0].get(name) != sql[1].get(name):
            print(f"SQL-CHANGED {name}")
    print(f"\n{len(names) - len(bad)} same, {len(bad)} differing or missing")
    sys.exit(1 if bad else 0)

def main():
    if sys.argv[1] == "--same-as":
        same_as(sys.argv[2], sys.argv[3], set(sys.argv[4:]))
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = [d for d in sorted(os.listdir(out_dir))
             if os.path.isdir(os.path.join(out_dir, d))]
    n_pass = n_fail = 0
    for name in names:
        if only and name not in only:
            continue
        got = load_result(os.path.join(out_dir, name))
        if got is None:
            print(f"FAIL {name}: no result parquet"); n_fail += 1; continue
        if name not in oracle:
            status = "ROWS-ONLY" if len(got) > 0 else "ROWS-ONLY-EMPTY!"
            print(f"{status} {name}: {len(got)} rows")
            n_pass += len(got) > 0; n_fail += len(got) == 0
            continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}"); n_fail += 1; continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(e.columns)}")
            n_fail += 1; continue
        if len(g) != len(e):
            print(f"FAIL {name}: rows {len(g)} != {len(e)}"); n_fail += 1; continue
        # STRICT compare: the driver hashes the value representation, so an
        # int64-vs-float64 drift (e.g. DuckDB HUGEINT sums fetched as
        # float64) is a FAIL even when values are numerically equal.
        # Round 1 shipped 4 such fails under the old rtol-only compare.
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=True,
                                          check_exact=True)
            print(f"PASS {name}: {len(g)} rows"); n_pass += 1
        except AssertionError as ex:
            try:
                pd.testing.assert_frame_equal(g, e, check_dtype=False,
                                              check_exact=False,
                                              rtol=1e-9, atol=1e-9)
                print(f"FAIL {name}: dtype/bit drift (values equal under "
                      f"rtol — driver hash would differ)\n{str(ex)[:300]}")
            except AssertionError:
                print(f"FAIL {name}: value mismatch\n{str(ex)[:500]}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
