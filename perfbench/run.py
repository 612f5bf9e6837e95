#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark from
source with sbt on first use (outputs under .bench_build/ and target/), runs
the workload in one JVM on local[nproc], checks every output, and prints one
JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics.
Exits 0 only when every operation ran and every output check passed.
See perfbench/NOTES.md for the workloads, metrics and checks.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pagerank_synth", "ingest_components")
HEAP = "3g"
RUN_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    patterns = ["build.sbt", "project/*.sbt", "project/build.properties", "src/main/**/*",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src/main/**/*"]
    for pat in patterns:
        for p in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(p):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine and benchmark unless the sources are unchanged since the
    last build. Returns (classpath, jvm_options)."""
    stamp = os.path.join(BUILD, "build.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b.get("digest") == digest:
            return b["classpath"], b["java_options"]
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: no engine build.sbt at the checkout root")
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and benchmark with sbt")
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={BUILD}/sbt-global", "compile", "writeLaunch"]
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["SBT_OPTS"] = f"{env.get('SBT_OPTS', '')} -Djava.io.tmpdir={BUILD}/tmp".strip()
    p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    launch = os.path.join(HERE, "target", "launch")
    with open(os.path.join(launch, "classpath")) as f:
        classpath = f.read().strip()
    with open(os.path.join(launch, "java-options")) as f:
        options = [o for o in f.read().split("\n") if o and not o.startswith("-Xmx")]
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath, "java_options": options}, f)
    return classpath, options


def oracle_checks(work):
    """Compares each query's written output with its DuckDB oracle, using the
    repository's canonical compare (tools/check_oracle.py)."""
    import duckdb
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    check_oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check_oracle)
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for table_dir in glob.glob(os.path.join(work, "input", "*.parquet")):
        t = os.path.basename(table_dir)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/*.parquet'")
    with open(os.path.join(work, "out", "oracle_sql.json")) as f:
        oracle = json.load(f)
    results = []
    for name, sql in sorted(oracle.items()):
        try:
            exp = check_oracle.canon(con.sql(sql).df())
            got = check_oracle.canon(con.sql(f"SELECT * FROM '{work}/out/{name}/*.parquet'").df())
            if list(exp.columns) != list(got.columns):
                ok, detail = False, f"columns {list(got.columns)} != {list(exp.columns)}"
            elif len(exp) != len(got):
                ok, detail = False, f"rows {len(got)} != {len(exp)}"
            else:
                ok, detail = bool(exp.equals(got)), f"{len(exp)} rows"
        except Exception as e:  # an oracle or output that cannot be read fails its check
            ok, detail = False, f"{type(e).__name__}: {e}"
        results.append({"name": f"{name}.oracle", "ok": ok, "detail": detail})
    return results


def git_commit():
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath, options = build()
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    cmd = ["java", f"-Xmx{HEAP}", *options, f"-Djava.io.tmpdir={work}/tmp",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", result_file]
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as jvm_log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                stdout=jvm_log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: run timed out")
    if code != 0 or not os.path.exists(result_file):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: benchmark JVM exited with {code}")
    with open(result_file) as f:
        r = json.load(f)

    checks = r["checks"]
    if os.path.exists(os.path.join(work, "out", "oracle_sql.json")):
        checks += oracle_checks(work)
    bad = [c for c in checks if not c["ok"]]
    for c in bad:
        log(f"check {c['name']} failed: {c['detail']}")
    failed = r["failed"] + len(bad)
    correct = failed == 0
    r["env"]["git_commit"] = git_commit()
    r["env"]["wall_s"] = round(time.time() - t0, 3)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "env": r["env"],
                      "setup_reps_s": r["setup_reps_s"], "warmup_pass_s": r["warmup_pass_s"],
                      "passes": r["passes"], "checks": checks}))
    print(json.dumps({"correct": correct, "attempted": r["attempted"] + len(checks), "failed": failed,
                      "metrics": r["metrics"]}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
