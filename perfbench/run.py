#!/usr/bin/env python3
"""Benchmark of the copy tool and the query suite.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the bench JVM from
source with sbt on first use (perfbench/build.sbt; later runs reuse the
build while the sources are unchanged), makes the workload's inputs from the
seed under .perfbench/, runs one closed-loop client for --seconds, checks
every output, and prints the metrics. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. Everything else (all metrics, errors, notes) is printed
above it for people.

Workloads:
  sync_noop    -update -delete -pt sync of a metadata-heavy tree onto its
               exact mirror (nothing to copy: enumerate and plan do the work)
  query_mix    5 registry queries per op on the tables in perfbench/data
  query_full   the same with 22 queries (about 30 s per op on 4 cores)
  copy_full    full copy of a byte-heavy tree into an empty destination
  sync_update  like sync_noop after a fresh seeded ~1% mutation per op

  python3 perfbench/run.py --make-oracle
recomputes perfbench/oracle_hashes.json with DuckDB from the oracle SQL the
program registers for each query of the mix.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(HERE, "data", "sf0.01")
ORACLE = os.path.join(HERE, "oracle_hashes.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
HEAP = "-Xmx3g"
RUN_TIMEOUT_S = 170  # per run, once built
BUILD_TIMEOUT_S = 700

# Layers each workload exercises. A per-layer metric of a layer the workload
# does not touch is reported as 0.
LAYERS = {
    "copy_full": {"enumerate", "plan", "exec"},
    "sync_update": {"enumerate", "plan", "exec"},
    "sync_noop": {"enumerate", "plan", "exec"},
    "query_mix": {"queries"},
    "query_full": {"queries"},
}
ALL_LAYERS = {"enumerate", "plan", "exec", "queries"}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def program_sources():
    """Files whose content decides the build."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """JVM options and classpath of the bench JVM, building first if the
    sources changed since the last build."""
    h = hashlib.sha256()
    for f in program_sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(HERE, "target", "launch.stamp")
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            fresh = fh.read().strip() == stamp
    else:
        fresh = False
    if not fresh:
        tmp = os.path.join(STATE, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # temporary files stay inside the checkout
        env = dict(os.environ, TMPDIR=tmp)
        env.setdefault("COURSIER_MODE", "offline")
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g") +
                           f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        log = os.path.join(STATE, "build.log")
        with open(log, "w") as fh:
            try:
                r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "launch"], cwd=HERE,
                                   env=env, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                   timeout=BUILD_TIMEOUT_S)
                code = r.returncode
            except subprocess.TimeoutExpired:
                code = -1
        if code != 0 or not os.path.exists(launch):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-4000:])
            die(f"build failed (exit {code}); log in {log}", 1)
        with open(stamp_file, "w") as fh:
            fh.write(stamp + "\n")
    with open(launch) as fh:
        opts, cp = fh.read().split("\n")[:2]
    return [o for o in opts.split("\x01") if o], cp


def run_jvm(main_class, args, work, log, timeout):
    opts, cp = build()
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", *opts, HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, main_class, *args]
    env = dict(os.environ, LANG="C.UTF-8", TMPDIR=os.path.join(work, "tmp"))
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    if code != 0:
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"{main_class} {'timed out' if code is None else f'exited {code}'}; log in {log}", 1)


# --- query output canonicalization (the comparison rules of tools/selfcheck.py:
# columns ordered by name, rows in emitted order, doubles rounded to 4 places)

def _canon_value(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = round(float(v), 4)
        if f == 0.0:
            f = 0.0
        return int(f) if f.is_integer() and abs(f) < 2 ** 53 else f
    if isinstance(v, int):
        return v
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return [_canon_value(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _canon_value(x) for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))}
    return str(v)


def result_hash(rel):
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [[_canon_value(r[i]) for i in order] for r in rel.fetchall()]
    doc = json.dumps({"columns": sorted(cols), "rows": rows}, sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(doc.encode()).hexdigest(), len(rows)


def duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def make_oracle():
    work = os.path.join(STATE, "oracle")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sql_file = os.path.join(work, "oracle_sql.json")
    run_jvm("perfbench.OracleSql", [sql_file], work, os.path.join(work, "jvm.log"), 600)
    with open(sql_file) as fh:
        sql = json.load(fh)
    con = duck()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    hashes = {}
    for name, q in sql.items():
        t0 = time.time()
        digest, n = result_hash(con.query(q))
        hashes[name] = {"sha256": digest, "rows": n}
        print(f"{name}: {n} rows, {time.time() - t0:.1f} s", file=sys.stderr)
    with open(ORACLE, "w") as fh:
        json.dump({"tables": "perfbench/data/sf0.01", "hashes": hashes}, fh, indent=1, sort_keys=True)
        fh.write("\n")


def check_queries(res, check_dir):
    """Oracle check of every query's output; a mismatching query stays in the
    mix and all its executions count as failed."""
    with open(ORACLE) as fh:
        want = json.load(fh)["hashes"]
    con = duck()
    lines = []
    for name, (att, fail) in res["query_units"].items():
        out = os.path.join(check_dir, name)
        if name not in want:
            verdict = "no oracle"
        elif not os.path.isdir(out):
            verdict = "no output"
        else:
            digest, n = result_hash(con.query(f"SELECT * FROM '{out}/*.parquet'"))
            verdict = "ok" if digest == want[name]["sha256"] else \
                f"MISMATCH ({n} rows, oracle {want[name]['rows']})"
        if verdict != "ok":
            res["mismatched"] += 1
            res["failed"] += att - fail
            res["query_units"][name] = [att, att]
        lines.append(f"  oracle check {name}: {verdict}")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--make-oracle", action="store_true")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        die(f"no program sources next to {HERE} (want ../build.sbt and ../src/main)")
    if a.make_oracle:
        return make_oracle()
    if a.workload not in LAYERS:
        die(f"--workload must be one of {', '.join(LAYERS)}")
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_file):
        die("BENCHMARK.json not found at the checkout root")
    with open(spec_file) as fh:
        spec = json.load(fh)

    build()
    started = time.time()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(STATE, "work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(out_dir, f"{tag}.json")
    try:
        t0_ms = int(time.time() * 1000)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", result_file, "--t0-ms", str(t0_ms),
                "--data", DATA, "--cpus", str(os.cpu_count() or 1)]
        budget = RUN_TIMEOUT_S - (time.time() - started)
        run_jvm("perfbench.BenchMain", args, work, os.path.join(out_dir, f"{tag}.log"), budget)
        with open(result_file) as fh:
            res = json.load(fh)
        check_lines = check_queries(res, os.path.join(work, "check")) if "queries" in LAYERS[a.workload] else []
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {k: (v, u) for k, (v, u) in res["metrics"].items()}
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    final = {}
    for m in names:
        layer = m["name"].split(".")[0]
        if m["name"] in metrics:
            value, unit = metrics[m["name"]]
            if unit != m["unit"]:
                die(f"{m['name']} is measured in {unit}, BENCHMARK.json says {m['unit']}", 1)
            final[m["name"]] = {"value": value, "unit": unit}
        elif layer in ALL_LAYERS and layer not in LAYERS[a.workload]:
            final[m["name"]] = {"value": 0, "unit": m["unit"]}

    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace}: "
          f"{res['attempted']} units attempted, {res['failed']} failed")
    for msg, n in res["errors"].items():
        print(f"  error (x{n}): {msg}")
    for note in res["notes"]:
        print(f"  note: {note}")
    for line in check_lines:
        print(line)
    for k in sorted(metrics):
        print(f"  {k} = {metrics[k][0]:.6g} {metrics[k][1]}")
    missing = [m["name"] for m in names if m["name"] not in final]
    if missing:
        print(f"  not measured (no op got that far): {', '.join(missing)}")
    correct = res["mismatched"] == 0 and res["failed"] < res["attempted"]
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": final}))


if __name__ == "__main__":
    main()
