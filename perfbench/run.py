#!/usr/bin/env python3
"""Benchmark of the streaming patterns and the batch query pass.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload stream_40u --seed 1 --seconds 20 --trace 0
                             [--full-check]

Builds `perfbench.Main` and the library with sbt (once per source state) and
runs one measured JVM. A traced or full-check run also runs the batch query
pass on tables generated from the seed, and each query's row count is checked
against DuckDB running the query's oracle SQL on the same tables. Prints one
JSON line: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`). See perfbench/README.md.

`--full-check` also dumps every query result from the benchmark's own session
and compares the values with `tools/check_oracle.py`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build: both build definitions and all
    main sources of the library and of the benchmark."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
                 os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, subdirs, files in os.walk(base):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)
                       if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """The runtime classpath, building first when any source changed."""
    stamp = os.path.join(TARGET, "perfbench-classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "perfbench-build.log")
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=f, text=True,
            stdin=subprocess.DEVNULL)
        f.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (exit {r.returncode}); see {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def oracle_rows(tables, oracle_sql):
    """Row count of each query's oracle SQL in DuckDB over `tables`."""
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    return {n: con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            for n, sql in oracle_sql.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full-check", action="store_true")
    args = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the library sources (build.sbt, src/main/scala) are not next to perfbench/")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")

    cp = classpath()
    run_id = f"{args.workload}-{args.seed}-{args.trace}"
    work = os.path.join(WORK, run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tables = os.path.join(work, "tables")
    if args.trace or args.full_check:  # only the batch query pass reads them
        subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"), tables,
                        str(args.seed)], check=True)

    result_path = os.path.join(work, "result.json")
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--tables", tables, "--out", result_path])
    dump = os.path.join(work, "dump")
    if args.full_check:
        cmd += ["--dump", dump]
    log = os.path.join(work, "jvm.log")
    t0 = time.time()
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {JVM_TIMEOUT_S} s; see {log}")
    if rc != 0 or not os.path.exists(result_path):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited {rc}; see {log}")
    with open(result_path) as f:
        res = json.load(f)

    # every query execution's observed row count against the oracle's
    failures = list(res["failures"])
    attempted = res["attempted"]
    query_rows = res["notes"].get("query_rows", {})
    expected = oracle_rows(tables, res["notes"]["oracle_sql"]) if query_rows else {}
    for name, rows in sorted(query_rows.items()):
        for r in rows:
            attempted += 1
            if r != expected[name]:
                failures.append(f"{name}: {r} rows, oracle {expected[name]}")
    if args.full_check:
        with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
            json.dump(res["notes"]["oracle_sql"], f)
        chk = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                              tables, dump], stdout=subprocess.PIPE, text=True)
        sys.stderr.write(chk.stdout)
        attempted += 1
        if chk.returncode != 0:
            failures.append("full check: tools/check_oracle.py reported mismatches")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    have = res["layers"] if args.trace else res["metrics"]
    metrics = {}
    for m in wanted:
        if m["name"] in have:
            metrics[m["name"]] = {"value": have[m["name"]]["value"], "unit": m["unit"]}
        else:
            failures.append(f"metric {m['name']} was not measured")
    with open(os.path.join(work, "summary.json"), "w") as f:
        json.dump({"failures": failures, "wall_s": time.time() - t0, "result": res}, f, indent=1)
    for d in ("stream", "local1", "warehouse", "spark-local", "tmp", "dump"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    for msg in failures:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
