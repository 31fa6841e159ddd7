#!/usr/bin/env python3
"""Benchmark driver: generate seeded inputs, build the program, run one
workload through its public entry points, check every output, and print
the metrics.

    python3 perfbench/run.py --workload <daily_dag|curation_week>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The last stdout line is one JSON
object with `correct`, `attempted`, `failed` and `metrics`: with
`--trace 0` the end-to-end metrics of BENCHMARK.json, with `--trace 1`
its per-layer metrics. Everything the run leaves behind stays under
`.bench_data/` and `perfbench/target/`.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

DEADLINE_S = 175          # a run must end within 180 s
FIRST_BUILD_DEADLINE_S = 890
HEAP = "2g"               # pinned: -Xms = -Xmx, independent of free memory

# inputs per workload (see perfbench/README.md for why these sizes)
SIZES = {
    "daily_dag": dict(n_events=150_000, n_users=20_000),
    "curation_week": dict(n_base=5000, n_days=7, batch_size=1000, planted_frac=0.25,
                          lookups_per_day=16, n_vecs=2000, anns_per_day=4),
}

# JDK 17 module opens Spark needs outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        return json.load(f)


def source_stamp(root):
    h = hashlib.sha256()
    files = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True) +
                   glob.glob(f"{HERE}/src/main/scala/**/*.scala", recursive=True) +
                   [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, deadline):
    """Compile the program's sources with the benchmark (perfbench/build.sbt)
    unless the classes are current."""
    classes = f"{HERE}/target/scala-2.13/classes"
    stamp_file = f"{HERE}/target/perfbench.stamp"
    stamp = source_stamp(root)
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    with open(f"{root}/.bench_data/logs/build.log", "w") as log:
        proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                              cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                              timeout=max(10, deadline - time.time()))
    if proc.returncode != 0 or not os.path.isdir(classes):
        fail(f"build failed; see .bench_data/logs/build.log", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def fingerprint(con, relation, cols):
    """Order-independent multiset fingerprint of `cols` of `relation`."""
    row = " || '|' || ".join(f"coalesce(CAST(\"{c}\" AS VARCHAR), '<null>')" for c in cols)
    n, h = con.execute(f"SELECT count(*), coalesce(sum(hash({row})), 0) FROM {relation}").fetchone()
    return [int(n), str(h)]


def check_daily(root, data, result):
    """Compare every written output with the DuckDB oracle SQL the repository
    carries for its stage. Returns the failure messages."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in ("events", "supplier"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    cache_path = f"{root}/.bench_data/oracle_cache.json"
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    digest = hashlib.sha256()
    for t in ("events", "supplier"):
        digest.update(open(f"{data}/{t}.parquet", "rb").read())
    problems = []
    for stage, spec_ in result["oracle"].items():
        key = digest.hexdigest() + hashlib.sha256(spec_["sql"].encode()).hexdigest()
        if key not in cache:
            rel = f"({spec_['sql']})"
            cols = sorted(con.execute(f"SELECT * FROM {rel} LIMIT 0").fetchdf().columns)
            cache[key] = {"cols": cols, "fp": fingerprint(con, rel, cols)}
        want = cache[key]
        for out in spec_["outputs"]:
            try:
                got = fingerprint(con, f"read_parquet('{out}/*.parquet')", want["cols"])
            except Exception as e:  # a missing column or unreadable output
                got = str(e).splitlines()[0]
            if got != want["fp"]:
                problems.append(f"{stage} {os.path.basename(os.path.dirname(out))}: "
                                f"got {got}, oracle {want['fp']}")
    with open(cache_path, "w") as f:
        json.dump(cache, f)
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    root = os.getcwd()
    if not os.path.isdir(f"{root}/src/main/scala/graft"):
        fail("run from the repository root: the program's sources (src/main/scala/graft) are missing")
    bench = spec()
    state = f"{root}/.bench_data"
    for d in ("logs", "traces", "results", "tmp"):
        os.makedirs(f"{state}/{d}", exist_ok=True)
    first_build = not os.path.isdir(f"{HERE}/target/scala-2.13/classes")
    deadline = t_start + (FIRST_BUILD_DEADLINE_S if first_build else DEADLINE_S)
    classes = build(root, deadline)

    tag = f"{args.workload}-{args.seed}-t{args.trace}"
    data, work = f"{state}/in/{tag}", f"{state}/work/{tag}"
    for d in (data, work):
        shutil.rmtree(d, ignore_errors=True)
    gen.generate(args.workload, args.seed, data, SIZES[args.workload])
    os.makedirs(work)

    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    # half the cores: the driver thread, JIT and GC keep cores of their
    # own, so the timings measure the program rather than the scheduler
    cores = max(1, min(4, os.cpu_count() or 1) // 2)
    out, spans = f"{state}/results/{tag}.json", f"{state}/traces/{tag}.jsonl"
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={state}/tmp"] + ADD_OPENS +
           ["-cp", f"{classes}:{spark_home}/jars/*", "perfbench.Main",
            "--workload", args.workload, "--data", data, "--work", work, "--out", out,
            "--spans", spans, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores)])
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=f"{state}/spark-local")
    if os.path.exists(out):
        os.remove(out)
    log_path = f"{state}/logs/{tag}.log"
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                  timeout=max(10, deadline - time.time() - 5))
        except subprocess.TimeoutExpired:
            fail(f"{args.workload} did not finish in time; see {log_path}", 1)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = [l for l in f.read().splitlines() if "Exception" in l or "Error" in l][:5]
        fail(f"{args.workload} exited {proc.returncode}: {' | '.join(tail)}; see {log_path}", 1)

    result = json.load(open(out))
    failures = list(result["failures"])
    failed = int(result["failed"])
    if args.workload == "daily_dag":
        problems = check_daily(root, data, result)
        failures += problems
        failed += len(problems)
    shutil.rmtree(data, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)

    attempted = int(result["attempted"])
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in result["metrics"]]
    if missing:
        fail(f"metrics not measured: {missing}", 1)
    metrics = {m["name"]: result["metrics"][m["name"]] for m in wanted}

    print(json.dumps({"env": result["env"], "samples": result.get("samples", {})}))
    print(f"{args.workload}: ops_failed_frac={failed / attempted:.6f} ({failed}/{attempted})")
    for f in failures[:10]:
        print(f"  failed: {f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
