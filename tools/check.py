#!/usr/bin/env python3
"""Dev-only local mirror of the driver's DuckDB correctness gate.

Usage: python3 tools/check.py [sf_dir] [verify_out_dir]

With SPARK_GRAFT_ONLY set (parsed as graft.Verify parses it), compares only
the named queries and fails any of them that has no Spark output or no
oracle SQL; the exit status is then 0 exactly when every named query
passes. Unset, it compares every query in oracle_sql.json.

Reads <out>/oracle_sql.json, runs each SQL in DuckDB against views over the
sf_dir parquet tables, and compares with the Spark parquet result at
<out>/<name>/. Reports per-query: row-count match, schema (column-name)
match, and exact value match (columns sorted by name, rows sorted by all
columns). NOT part of the shipped library.

Compare semantics deliberately mirror the DRIVER, not the most forgiving
comparison: the Spark side is read via pyarrow.to_pandas() (so DECIMAL
columns surface as Python Decimal, ARRAY columns as numpy arrays) while the
oracle side comes from DuckDB fetchdf() (DECIMAL -> float64), rows are
canonicalized with pandas sort_values (which CRASHES on array columns), and
cells compare stringified. Round 1 lesson: reading both sides through
DuckDB hid 8 decimal-vs-float formatting mismatches and one array-column
crash that the driver then reported as failures.
"""
import duckdb, json, os, sys, glob, math, time
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def only_names():
    """SPARK_GRAFT_ONLY as graft.Verify reads it: comma-split, each name
    trimmed like Java's String.trim (every char <= U+0020), blanks
    dropped. An empty set means unset."""
    ws = "".join(chr(c) for c in range(0x21))
    raw = os.environ.get("SPARK_GRAFT_ONLY", "")
    return {n.strip(ws) for n in raw.split(",") if n.strip(ws)}

def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)

def is_nan(v):
    return isinstance(v, float) and math.isnan(v)

def cell_eq(a, b):
    if a is None and b is None:
        return True
    if a is None or b is None:
        return False
    # the driver compares stringified cells: Decimal('1.00') vs 1.0 MUST
    # mismatch here exactly as it does there
    return str(a) == str(b)

def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    only = only_names()
    names = sorted(only) if only else sorted(oracle)
    n_ok = n_bad = 0
    secs = {}  # seconds of each oracle fetchdf(), printed on its result line
    for name in names:
        if name not in oracle:
            print(f"FAIL {name}: not in oracle_sql.json")
            n_bad += 1
            continue
        sql = oracle[name]
        files = sorted(glob.glob(f"{out}/{name}/*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output")
            n_bad += 1
            continue
        t0 = time.perf_counter()
        try:
            exp = con.sql(sql).fetchdf()
        except Exception as e:
            secs[name] = time.perf_counter() - t0
            print(f"FAIL {name}: oracle SQL error: {e} [{secs[name]:.2f} s]")
            n_bad += 1
            continue
        secs[name] = time.perf_counter() - t0
        took = f" [{secs[name]:.2f} s]"
        # driver-parity read: pyarrow, not duckdb
        got = pq.ParquetDataset(files).read().to_pandas()
        if sorted(got.columns) != sorted(exp.columns):
            print(f"FAIL {name}: columns spark={sorted(got.columns)} oracle={sorted(exp.columns)}{took}")
            n_bad += 1
            continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows spark={len(got)} oracle={len(exp)}{took}")
            n_bad += 1
            continue
        try:
            g, e = canon(got), canon(exp)
        except Exception as ex:
            print(f"FAIL {name}: canonicalization error (driver would err too): {ex}{took}")
            n_bad += 1
            continue
        bad = None
        for col in g.columns:
            gv, ev = list(g[col]), list(e[col])
            for i in range(len(gv)):
                ga = None if gv[i] is None or is_nan(gv[i]) else gv[i]
                eb = None if ev[i] is None or is_nan(ev[i]) else ev[i]
                if not cell_eq(ga, eb):
                    bad = (col, i, ga, eb)
                    break
            if bad:
                break
        if bad:
            col, i, ga, eb = bad
            print(f"FAIL {name}: value mismatch col={col} row={i} spark={ga!r} oracle={eb!r}{took}")
            n_bad += 1
        else:
            print(f"OK   {name} ({len(got)} rows){took}")
            n_ok += 1
    slowest = sorted(secs.items(), key=lambda kv: -kv[1])[:10]
    if slowest:
        print("-- slowest oracle queries:")
        for n, t in slowest:
            print(f"   {t:8.2f} s  {n}")
    print(f"== {n_ok} ok, {n_bad} fail, {len(names)} total")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main()
