#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload contract|garmin_tools --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the harness and the
program from source (sbt, offline) into perfbench/target; later runs reuse
the build while the sources are unchanged. The contract workload reads the
project's fixed sf0.1 test tables, kept in perfbench/data/sf0.1 and checked
against their SHA256SUMS; the seed drives only the query order. The Garmin
inputs are generated from the seed under perfbench/.work and deleted when
the run ends. The JVM writes a result file; this script adds the checks
made outside the JVM (the DuckDB oracle comparison of the contract
queries), prints a details line and, as the last line, the result:
{"correct", "attempted", "failed", "metrics"}. Traced runs also keep their
spans in perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import garmin_gen  # noqa: E402

CONTRACT_DATA = os.path.join(BENCH, "data", "sf0.1")
CONTRACT_TABLES = ("region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events", "documents", "embeddings")

GARMIN_ACTIVITIES = 40
GARMIN_TS_ROWS = (1000, 2000)
GARMIN_DAYS_APART = 3
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 150
# Spark's status store keeps every job, stage and SQL execution up to these
# limits even with the UI off; bounding it keeps live_heap_mb about the
# program's own memory instead of how many ops a run happened to do.
STATUS_RETENTION = [f"-Dspark.{k}=50" for k in (
    "ui.retainedJobs", "ui.retainedStages", "sql.ui.retainedExecutions")]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(BENCH, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; return the runtime classpath."""
    target = os.path.join(BENCH, "target")
    stamp_file = os.path.join(target, "perfbench-build.stamp")
    cp_file = os.path.join(target, "perfbench-classpath.txt")
    stamp = source_hash()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f2:
                    return f2.read().strip()
    log("building (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.offline=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    cp = [l for l in p.stdout.splitlines() if "perfbench" in l and "classes" in l
          and not l.startswith("[")]
    if not cp:
        raise SystemExit("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def contract_data():
    """Check the fixed tables against their recorded checksums; return
    their row counts."""
    import pyarrow.parquet as pq
    with open(os.path.join(CONTRACT_DATA, "SHA256SUMS")) as f:
        sums = dict(reversed(l.split()) for l in f if l.strip())
    rows = {}
    for t in CONTRACT_TABLES:
        p = os.path.join(CONTRACT_DATA, f"{t}.parquet")
        with open(p, "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != sums[f"{t}.parquet"]:
                raise SystemExit(f"{p} does not match SHA256SUMS")
        rows[t] = pq.ParquetFile(p).metadata.num_rows
    return rows


def generate(workload, seed, input_dir):
    if workload == "contract":
        return contract_data()
    truth = garmin_gen.write_activities(
        input_dir, seed, GARMIN_ACTIVITIES, *GARMIN_TS_ROWS, GARMIN_DAYS_APART)
    garmin_gen.write_silver_rows(input_dir, seed,
                                 GARMIN_ACTIVITIES * GARMIN_DAYS_APART + 1)
    with open(os.path.join(input_dir, "truth.tsv"), "w") as f:
        for t in truth:
            f.write(f"{t['activity_id']}\t{t['date']}\t{t['distance_m']!r}"
                    f"\t{t['laps']}\t{t['ts_rows']}\n")
    return {"activities": len(truth)}


# ---- contract output check ------------------------------------------------

def _family(duck_type):
    """Type family as tools/check_oracle.py compares it: integer widths and
    float widths are equal, every other type (HUGEINT, DECIMAL(p,s),
    VARCHAR, DATE, ...) must match exactly."""
    t = str(duck_type)
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE"):
        return "float"
    return t


def _sort_key(row):
    """Order-insensitive comparison: sort rows on a key that rounds floats
    to the tolerance so both sides sort the same way."""
    return tuple((0, "") if v is None else
                 (1, f"{v:.6g}") if isinstance(v, float) else (2, str(v))
                 for v in row)


def check_contract(out_dir, work, skip):
    """Compare each dumped Spark result with DuckDB running the query's
    registered oracle SQL over the same tables, with the value comparison
    of tools/check_oracle.py. Queries in `skip` already failed their dump."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import rows_match
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory='{os.path.join(work, 'duck')}'")
    for t in CONTRACT_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(CONTRACT_DATA, t)}.parquet'")
    results, secs = [], {}
    for name, sql in sorted(oracle.items()):
        if name in skip:
            continue
        try:
            t0 = time.perf_counter()
            want_rel = con.sql(sql)
            want_cols, want = list(want_rel.columns), want_rel.fetchall()
            want_types = dict(zip(want_cols, want_rel.types))
            got_rel = con.sql(f"SELECT * FROM "
                              f"'{os.path.join(out_dir, 'results', name)}/*.parquet'")
            got_cols, got = list(got_rel.columns), got_rel.fetchall()
            got_types = dict(zip(got_cols, got_rel.types))
            secs[name] = time.perf_counter() - t0
        except Exception as e:  # an oracle or dump that cannot be read fails
            results.append((name, f"unreadable: {e}"))
            continue
        if sorted(want_cols) != sorted(got_cols):
            results.append((name, f"columns {sorted(got_cols)} vs {sorted(want_cols)}"))
            continue
        type_diffs = [f"{c}: {got_types[c]} vs {want_types[c]}" for c in want_cols
                      if _family(got_types[c]) != _family(want_types[c])]
        if type_diffs:
            results.append((name, "column types " + "; ".join(type_diffs)))
            continue
        order = sorted(want_cols)
        wi = [want_cols.index(c) for c in order]
        gi = [got_cols.index(c) for c in order]
        want = sorted(([r[i] for i in wi] for r in want), key=_sort_key)
        got = sorted(([r[i] for i in gi] for r in got), key=_sort_key)
        ok, why = rows_match(got, want)
        results.append((name, None if ok else why))
    con.close()
    return results, secs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload}")
    for need in (os.path.join("src", "main", "scala", "graft"), "tools"):
        if not os.path.isdir(os.path.join(ROOT, need)):
            raise SystemExit(f"program directory {need} not found")
    classpath = build()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BENCH, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(work, "out")
    input_dir = (CONTRACT_DATA if args.workload == "contract"
                 else os.path.join(work, "input"))
    for d in (input_dir, out_dir, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    try:
        t0 = time.perf_counter()
        gen_sizes = generate(args.workload, args.seed, input_dir)
        gen_s = time.perf_counter() - t0
        trace_file = os.path.join(
            BENCH, "out", f"trace-{args.workload}-seed{args.seed}.jsonl")
        tmp = os.path.join(work, "tmp")
        cmd = ["java", f"-Xmx{JVM_HEAP}", *ADD_OPENS, *STATUS_RETENTION,
               f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
               f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
               "-cp", classpath, "perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--input", input_dir, "--work", work, "--out", out_dir,
               "--cores", str(cores), "--gen-seconds", repr(gen_s),
               "--trace-file", trace_file]
        # GraftSession.build reads its configuration from SPARK_GRAFT_*
        # variables; only the core count is the benchmark's to set.
        env = {k: v for k, v in os.environ.items()
               if not k.startswith("SPARK_GRAFT_")}
        env["SPARK_GRAFT_CPUS"] = str(cores)
        p = subprocess.run(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                           stdout=sys.stderr, stderr=sys.stderr,
                           timeout=RUN_TIMEOUT_S)
        if p.returncode != 0:
            raise SystemExit(f"benchmark JVM exited with {p.returncode}")
        with open(os.path.join(out_dir, "result.json")) as f:
            res = json.load(f)

        failures = list(res["failures"])
        failed, attempted = res["failed"], res["attempted"]
        if args.workload == "contract":
            dumped_bad = {f["name"] for f in failures}
            t1 = time.perf_counter()
            oracle, secs = check_contract(out_dir, work, dumped_bad)
            res["details"]["oracle_check_s"] = time.perf_counter() - t1
            res["details"]["oracle_s"] = secs
            for name, why in oracle:
                if why is not None:
                    failures.append({"name": name, "reason": f"oracle mismatch: {why}"})
                    failed += 1
            res["e2e"]["ok_ratio"] = (attempted - failed) / attempted

        if args.trace:
            names, values = spec["per_layer"], res["per_layer"]
        else:
            names, values = spec["end_to_end"], res["e2e"]
        missing = [m["name"] for m in names if m["name"] not in values]
        if missing:
            raise SystemExit(f"metrics not measured: {missing}")
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in names}
        print(json.dumps({"details": {
            "stamp": dict(res["stamp"], git_commit=git_commit(),
                          source_sha256=source_hash()),
            "sizes": dict(gen_sizes, **res["sizes"]), "gen_s": gen_s,
            "run": res["details"],
            "failures": failures,
            "trace_file": os.path.relpath(trace_file, ROOT) if args.trace else None}}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
