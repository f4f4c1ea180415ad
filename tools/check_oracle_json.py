#!/usr/bin/env python3
"""check_oracle variant that writes a driver-CORRECTNESS-shaped JSON
artifact: {query: {rows_match, schema_match, hash_match, spark_rows,
oracle_rows, err}}.

Usage: check_oracle_json.py <sf_dir> <verify_out_dir> <json_out> [query ...]
"""
import sys, time, json, glob, hashlib
from check_oracle import canon, connect


def main():
    sf_dir, out_dir, json_out = sys.argv[1], sys.argv[2], sys.argv[3]
    only = set(sys.argv[4:])
    con = connect(sf_dir)
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        rec = {"rows_match": False, "schema_match": False,
               "hash_match": False, "spark_rows": None,
               "oracle_rows": None, "err": None}
        results[name] = rec
        pdir = f"{out_dir}/{name}"
        if not glob.glob(f"{pdir}/*.parquet"):
            rec["err"] = "missing spark output"
            print(f"[MISS] {name}", flush=True)
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{pdir}/*.parquet')")
            got_rows = got.fetchall()
            got_cols = [d[0] for d in got.description]
            exp = con.sql(sql)
            exp_rows = exp.fetchall()
            exp_cols = [d[0] for d in exp.description]
        except Exception as e:
            rec["err"] = f"{type(e).__name__}: {str(e)[:250]}"
            print(f"[ERR ] {name}: {rec['err']}", flush=True)
            continue
        dt = time.time() - t0
        rec["spark_rows"], rec["oracle_rows"] = len(got_rows), len(exp_rows)
        rec["schema_match"] = sorted(got_cols) == sorted(exp_cols)
        rec["rows_match"] = len(got_rows) == len(exp_rows)
        a, b = canon(got_rows, got_cols), canon(exp_rows, exp_cols)
        ha = hashlib.sha256("\n".join(a).encode()).hexdigest()
        hb = hashlib.sha256("\n".join(b).encode()).hexdigest()
        rec["hash_match"] = rec["schema_match"] and ha == hb
        ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
        print(f"[{'ok  ' if ok else 'FAIL'}] {name}: {len(a)} rows "
              f"({dt:.1f}s)", flush=True)
    n_ok = sum(1 for r in results.values()
               if r["rows_match"] and r["schema_match"] and r["hash_match"])
    with open(json_out, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    print(f"== {n_ok} pass / {len(results) - n_ok} fail -> {json_out} ==",
          flush=True)


if __name__ == "__main__":
    main()
