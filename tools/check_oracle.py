#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify at a
given SF, then execute each oracle SQL in DuckDB over the same tables and
compare results (columns sorted by name, values hashed row-by-row).

Usage: python3 tools/check_oracle.py [sfDir] [outDir]
"""
import json, sys, subprocess, os, glob

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT_DIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
# the checkout this script sits in, so any copy of the tree verifies itself
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def run_verify():
    cmd = ["sbt", "-batch", f'runMain graft.Verify {SF_DIR} {OUT_DIR}']
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
    if r.returncode != 0:
        print(r.stdout[-3000:]); print(r.stderr[-3000:])
        sys.exit("verify run failed")
    for line in r.stderr.splitlines():
        if "[verify]" in line:
            print(line)

def canon(v):
    import datetime, decimal, math
    import numpy as np
    if v is None: return "NULL"
    if isinstance(v, (float, np.floating)):
        if math.isnan(v): return "NaN"
        return repr(float(v))
    if isinstance(v, (int, np.integer)): return repr(int(v))
    if isinstance(v, decimal.Decimal): return repr(float(v))
    if isinstance(v, (datetime.datetime, datetime.date)): return v.isoformat()
    return repr(v)

def table_of(rel):
    """Go through pandas (like the driver does) so dtype coercions —
    e.g. DuckDB HUGEINT -> float64 — are faithfully reproduced."""
    df = rel.df()
    cols = list(df.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(canon(r[i]) for i in order) for r in df.itertuples(index=False, name=None)]
    return rows, [cols[i] for i in order]

def main():
    run_verify()
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(f"{OUT_DIR}/oracle_sql.json") as f:
        oracles = json.load(f)
    failures = 0
    for name, sql in sorted(oracles.items()):
        spark_dir = f"{OUT_DIR}/{name}"
        files = glob.glob(f"{spark_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); failures += 1; continue
        got = con.sql(f"SELECT * FROM '{files[0]}'")
        got_rows, got_cols = table_of(got)
        try:
            exp = con.sql(sql)
            exp_rows, exp_cols = table_of(exp)
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}"); failures += 1; continue
        if got_cols != exp_cols:
            print(f"FAIL {name}: columns {got_cols} != {exp_cols}"); failures += 1; continue
        if len(got_rows) != len(exp_rows):
            print(f"FAIL {name}: rows {len(got_rows)} != {len(exp_rows)}"); failures += 1; continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(got_rows, exp_rows)) if a != b]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL {name}: {len(bad)}/{len(got_rows)} rows differ; first at {i}:")
            print(f"  spark : {a}\n  duckdb: {b}")
            failures += 1
        else:
            print(f"PASS {name} ({len(got_rows)} rows)")
    # full Python-oracle checks for the two queries whose angle keys come
    # from the engine's 512-d feature hash (not SQL-expressible): a
    # faithful Python port (tools/lexicon_oracle.py) recomputes every
    # angle bit-for-bit and replays the validate aggregates
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import lexicon_oracle
    py_checks = {
        "lexicon_build": lexicon_oracle.check_lexicon_build,
        "lexicon_validate": lexicon_oracle.check_lexicon_validate,
    }
    # rows-only checks for any remaining non-oracled queries
    for d in sorted(glob.glob(f"{OUT_DIR}/*/")):
        name = os.path.basename(d.rstrip("/"))
        if name in oracles: continue
        files = glob.glob(f"{d}/*.parquet")
        if name in py_checks:
            if not files:
                print(f"FAIL {name}: no spark output"); failures += 1; continue
            try:
                ok, detail = py_checks[name](con, SF_DIR, files[0])
            except Exception as e:
                ok, detail = False, f"python oracle error: {e}"
            print(f"{'PASS' if ok else 'FAIL'} {name} (python-oracle: {detail})")
            if not ok: failures += 1
            continue
        n = con.sql(f"SELECT count(*) FROM '{files[0]}'").fetchone()[0] if files else 0
        print(f"{'PASS' if n > 0 else 'FAIL'} {name} (rows-only: {n})")
        if n == 0: failures += 1
    sys.exit(1 if failures else 0)

if __name__ == "__main__":
    main()
