#!/usr/bin/env python3
"""graft benchmark: one seeded run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness from source (sbt, cached by a digest
of the sources under .bench_build/), derives the seeded input tables,
runs the harness JVM (set-up, one cold pass, one parquet-sink output
pass, then a fixed number of warm passes), checks that pass's outputs
against the program's DuckDB oracle SQL, and prints one JSON result
object as the last stdout line: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1.
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(BENCH, "harness")
BUILD = os.path.join(ROOT, ".bench_build")
BASE_DATA = os.path.join(BENCH, "data")

WORKLOADS = ("graph_kernels", "curate_stream")
HEAP = "3g"       # harness JVM heap (-Xmx)
RUN_LIMIT_S = 175  # a run's own deadline, build excluded

END_TO_END = {"setup_s": "s", "cold_cpu_s": "s", "warm_cpu_s": "s",
              "retained_heap_mb": "MB"}
PER_LAYER = {
    "self.operators_s": "s", "self.pipelines_s": "s",
    "self.streaming_s": "s",
    "spark.driver_gap_s": "s", "trace.span_s": "s",
    "ckpt.stage_s": "s", "ckpt.blocks_written": "count",
    "ckpt.mb_written": "MB", "ckpt.blocks_left": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.exec_run_s": "s", "spark.exec_cpu_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "jvm.gc_s": "s", "jvm.gc_count": "count",
    "width.loop_cold": "count", "width.loop_warm": "count",
    "width.tasks_per_stage_p50": "count",
    "graphio.build_s": "s", "graphio.cached_mb": "MB",
    "plans.planning_ms": "ms", "plans.graft_rule_ms": "ms",
    "plans.graft_rule_effective": "ratio",
    "stream.batches": "count", "stream.state_commit_ms": "ms",
    "stream.state_instances": "count", "stream.wal_commit_ms": "ms",
    "stream.resume_first_batch_s": "s",
    "stream.bytes_written_per_input_byte": "ratio",
    "op.hits.s": "s", "op.kcore.s": "s", "op.curate.s": "s",
    "op.bm25.s": "s", "op.restart_sessionize.s": "s",
    "trace_overhead": "ratio",
}

# Key domains relabeled by the seed: domain -> (table, column) uses.
KEY_DOMAINS = {
    "custkey": [("orders", "o_custkey")],
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "partkey": [("lineitem", "l_partkey")],
    "doc_id": [("documents", "doc_id")],
    "user_id": [("events", "user_id")],
}
TABLES = ("orders", "lineitem", "documents", "events")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_files():
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*"]
    files = [f for p in pats for f in glob.glob(os.path.join(ROOT, p),
                                                recursive=True)]
    files += glob.glob(os.path.join(HARNESS, "**", "*"), recursive=True)
    skip = (os.sep + "target" + os.sep, os.sep + ".bsp" + os.sep)
    return sorted(f for f in files if os.path.isfile(f)
                  and not any(s in f for s in skip))


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(digest):
    """Compiles program + harness once per source digest and copies the
    classes under .bench_build/<digest>/, so that a digest's launch recipe
    always runs that digest's classes, whatever was built since. Returns
    (classpath, jvm options)."""
    home = os.path.join(BUILD, digest)
    recipe = os.path.join(home, "launch.txt")
    if not os.path.exists(recipe):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        os.makedirs(BUILD, exist_ok=True)
        blog = os.path.join(BUILD, "build.log")
        log("building program + harness (sbt)")
        with open(blog, "w") as fh:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                cwd=HARNESS, env=env, stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=840)
        if r.returncode != 0:
            with open(blog) as fh:
                sys.stderr.write("".join(fh.readlines()[-30:]))
            die(f"build failed (exit {r.returncode}); log: {blog}")
        with open(os.path.join(HARNESS, "target", "launch.txt")) as fh:
            lines = [l.rstrip("\n") for l in fh]
        shutil.rmtree(home, ignore_errors=True)
        cp = []
        # the build's own outputs (class directories under the checkout)
        # are copied; jars outside it are the toolchain's and stay put
        for i, entry in enumerate(lines[0].split(os.pathsep)):
            if not os.path.abspath(entry).startswith(ROOT + os.sep):
                cp.append(entry)
            elif os.path.isdir(entry):
                cp.append(os.path.join(home, "cp", str(i)))
                shutil.copytree(entry, cp[-1])
            elif os.path.isfile(entry):
                cp.append(os.path.join(home, "cp", str(i),
                                       os.path.basename(entry)))
                os.makedirs(os.path.dirname(cp[-1]))
                shutil.copy2(entry, cp[-1])
        with open(recipe + ".tmp", "w") as fh:
            fh.write("\n".join([os.pathsep.join(cp)] + lines[1:]) + "\n")
        os.replace(recipe + ".tmp", recipe)
    with open(recipe) as fh:
        lines = [l.rstrip("\n") for l in fh]
    # the heap is the benchmark's choice, not the program build's default
    opts = [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    return lines[0], opts


# ----------------------------------------------------------------- data

def relabel_map(seed, domain_idx, keys):
    """Monotone bijection from the sorted distinct `keys` onto a seeded
    random key set (seed 0: identity). Monotone, so every order-based
    construction in the program (the lead() part chain, tie-breaks on
    keys) sees the same structure under new labels."""
    if seed == 0:
        return keys
    rng = np.random.default_rng([seed, domain_idx])
    span = 4 * max(len(keys), int(keys.max()) + 1)
    return np.sort(rng.choice(span, size=len(keys), replace=False)) + 1


def graph_signature(con):
    """(|V|, |E|, degree-multiset digest) of the order graph, built the
    way GraphIO.orderGraph builds it."""
    con.sql("""
      CREATE OR REPLACE TEMP VIEW e AS
      SELECT 'c' || o_custkey AS src, 'o' || o_orderkey AS dst FROM orders
      UNION ALL SELECT 'o' || l_orderkey, 'p' || l_partkey FROM lineitem
      UNION ALL SELECT * FROM (
        SELECT 'p' || l_partkey AS src, 'p' || lead(l_partkey) OVER (
          PARTITION BY l_orderkey ORDER BY l_partkey, l_quantity) AS dst
        FROM lineitem) WHERE dst IS NOT NULL""")
    n_e = con.sql("SELECT count(*) FROM e").fetchone()[0]
    n_v = con.sql("SELECT count(*) FROM (SELECT src FROM e UNION "
                  "SELECT dst FROM e)").fetchone()[0]
    degs = con.sql("""
      WITH o AS (SELECT src AS id, count(*) AS d FROM e GROUP BY 1),
           i AS (SELECT dst AS id, count(*) AS d FROM e GROUP BY 1)
      SELECT coalesce(o.d, 0) AS od, coalesce(i.d, 0) AS id_, count(*)
      FROM o FULL JOIN i USING (id) GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()
    return n_v, n_e, hashlib.sha256(repr(degs).encode()).hexdigest()


def views(con, data_dir):
    for t in TABLES:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')")


def derive(seed):
    """Seeded input tables under .bench_build/data/seed-N (built once per
    seed, outside every timed region), self-checked against the base."""
    out = os.path.join(BUILD, "data", f"seed-{seed}")
    if os.path.exists(os.path.join(out, "ok")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tables = {t: pq.read_table(os.path.join(BASE_DATA, f"{t}.parquet"))
              for t in TABLES}
    for idx, (domain, uses) in enumerate(sorted(KEY_DOMAINS.items())):
        keys = np.unique(np.concatenate(
            [tables[t][c].to_numpy() for t, c in uses]))
        new = relabel_map(seed, idx, keys)
        for t, c in uses:
            col = tables[t][c]
            mapped = new[np.searchsorted(keys, col.to_numpy())]
            tables[t] = tables[t].set_column(
                tables[t].schema.get_field_index(c), tables[t].schema.field(c),
                pa.array(mapped, type=col.type))
    for t, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out, f"{t}.parquet"),
                       compression="snappy")
    base, got = duckdb.connect(), duckdb.connect()
    views(base, BASE_DATA)
    views(got, out)
    for t in TABLES:
        a = base.sql(f"SELECT count(*) FROM {t}").fetchone()[0]
        b = got.sql(f"SELECT count(*) FROM {t}").fetchone()[0]
        if a != b:
            die(f"seed {seed}: {t} has {b} rows, base has {a}")
    if graph_signature(base) != graph_signature(got):
        die(f"seed {seed}: order graph |V|/|E|/degree multiset changed")
    open(os.path.join(out, "ok"), "w").close()
    return out


# --------------------------------------------------------------- oracle

def check_outputs(data_dir, out_dir, oracle_sql):
    """Gates whose output-pass result differs from the oracle, compared
    with tools/check_oracle.py's canonicalization."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import canon
    con = duckdb.connect()
    views(con, data_dir)
    bad = []
    for gate, sql in sorted(oracle_sql.items()):
        files = glob.glob(f"{out_dir}/outputs/{gate}/*.parquet")
        try:
            if not files:
                raise ValueError("no output")
            got = con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/outputs/{gate}/*.parquet')")
            gr, gc = got.fetchall(), [d[0] for d in got.description]
            exp = con.sql(sql)
            er, ec = exp.fetchall(), [d[0] for d in exp.description]
            if sorted(gc) != sorted(ec) or canon(gr, gc) != canon(er, ec):
                raise ValueError(f"{len(gr)} rows differ from the oracle's {len(er)}")
        except Exception as e:  # any failure to reproduce the oracle counts
            log(f"output check failed: {gate}: {e}")
            bad.append(gate)
    return bad


# ------------------------------------------------------------------ run

def cpu_steal_s():
    """CPU time the hypervisor gave to other guests, summed over all
    CPUs (the `steal` field of /proc/stat); None where unavailable."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def host_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the common benchmark interface: the warm phase is a
    # fixed number of passes, so that warm_s is one statistic at any speed
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no program sources here (build.sbt, src/main/scala): "
            "run from the repository root")

    digest = source_digest()
    cp, jvm_opts = build(digest)
    t_start = time.time()
    data_dir = derive(a.seed)

    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(work, "out")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir)
    load0, steal0 = os.getloadavg()[0], cpu_steal_s()
    cmd = (["java"] + jvm_opts +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
            "perfbench.Harness", "--workload", a.workload, "--data", data_dir,
            "--out", out_dir, "--trace", str(a.trace)])
    jlog = os.path.join(BUILD, "harness.log")
    with open(jlog, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, stdout=fh,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(30, RUN_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"harness exceeded the run deadline; log: {jlog}")
    if rc != 0 or not os.path.exists(os.path.join(out_dir, "result.json")):
        with open(jlog) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        die(f"harness failed (exit {rc}); log: {jlog}")
    with open(os.path.join(out_dir, "result.json")) as fh:
        res = json.load(fh)

    mismatched = check_outputs(data_dir, out_dir, res["oracle_sql"])
    attempted = int(res["attempted"])
    failed = len(res["failures"]) + len(mismatched)
    host = dict(res["host"], seed=a.seed, commit=host_commit(),
                source_digest=digest, heap=HEAP,
                loadavg_run_start=load0, loadavg_run_end=os.getloadavg()[0],
                cpu_steal_s=None if steal0 is None else cpu_steal_s() - steal0)
    record = {"workload": a.workload, "trace": a.trace, "host": host,
              "error_rate": failed / attempted, "failures": res["failures"],
              "mismatched": mismatched,
              **{k: res[k] for k in ("setup_s", "setup_each_s", "cold_s",
                                     "cold_cpu_s", "warm_s", "warm_each_s",
                                     "warm_cpu_s", "warm_cpu_each_s",
                                     "retained_heap_mb", "cold_op_s",
                                     "warm_op_s", "per_layer")}}
    rec_dir = os.path.join(BUILD, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}"
                           f"-{int(time.time())}.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)

    if a.trace:
        layer = res["per_layer"]
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(res[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"host": host}, sort_keys=True))
    print(json.dumps({"error_rate": {"value": failed / attempted,
                                     "unit": "ratio"},
                      "cold_s": {"value": res["cold_s"], "unit": "s"},
                      "warm_s": {"value": res["warm_s"], "unit": "s"},
                      "op_s": {"cold": res["cold_op_s"],
                               "warm": res["warm_op_s"]}}, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
