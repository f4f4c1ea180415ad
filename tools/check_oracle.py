#!/usr/bin/env python3
"""Local replica of the driver's t2 check: run Verify's parquet dumps
against DuckDB executing oracle_sql.json on the same testdata tables.
Prints one line per query with its seconds, unbuffered.
Usage: check_oracle.py <sfDir> <verifyOutDir> [query ...]
"""
import sys, time, json, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(rows, cols):
    # sort columns by name, round-trip through repr; sort rows
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = repr(round(v, 12))
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)

def connect(sf_dir):
    """A DuckDB connection with one view per testdata table in sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = connect(sf_dir)
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        pdir = f"{out_dir}/{name}"
        files = glob.glob(f"{pdir}/*.parquet")
        if not files:
            print(f"[MISS] {name}: no spark output", flush=True)
            n_fail += 1
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{pdir}/*.parquet')")
            got_rows, got_cols = got.fetchall(), [d[0] for d in got.description]
            exp = con.sql(sql)
            exp_rows, exp_cols = exp.fetchall(), [d[0] for d in exp.description]
        except Exception as e:
            print(f"[ERR ] {name}: {type(e).__name__}: {str(e)[:300]} "
                  f"({time.time() - t0:.1f}s)", flush=True)
            n_fail += 1
            continue
        dt = time.time() - t0
        if sorted(got_cols) != sorted(exp_cols):
            print(f"[FAIL] {name}: cols {sorted(got_cols)} != {sorted(exp_cols)} "
                  f"({dt:.1f}s)", flush=True)
            n_fail += 1
            continue
        a, b = canon(got_rows, got_cols), canon(exp_rows, exp_cols)
        if len(a) != len(b):
            print(f"[FAIL] {name}: rows {len(a)} != {len(b)} ({dt:.1f}s)",
                  flush=True)
            n_fail += 1
        elif a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y]
            print(f"[FAIL] {name}: {len(diffs)}/{len(a)} rows differ; "
                  f"e.g. {diffs[:3]} ({dt:.1f}s)", flush=True)
            n_fail += 1
        else:
            print(f"[ok  ] {name}: {len(a)} rows ({dt:.1f}s)", flush=True)
            n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail ==", flush=True)

if __name__ == "__main__":
    main()
