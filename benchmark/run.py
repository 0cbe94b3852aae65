#!/usr/bin/env python3
"""Build the engine and the benchmark from source, run one workload once,
check its answers and print the result.

    python3 benchmark/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The last line of standard output is
one JSON object with the keys correct, attempted, failed and metrics: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. The line before it is the full result record
(environment, every end-to-end figure, op counts), which is also kept in
benchmark/out/results/ for summarize.py; traced runs keep their spans in
benchmark/out/traces/.

The first run in a checkout compiles the engine and the benchmark with
sbt and caches the classpath under benchmark/target/; later runs start
the JVM directly. Each run works in a fresh directory under
benchmark/out/runs/ that is deleted when it ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
CP_FILE = os.path.join(BENCH, "target", "graftbench-classpath.txt")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
HEAP = "3g"
# the JDK packages Spark reaches into, one a line; the tests read it too
ADD_OPENS_FILE = os.path.join(BENCH, "add-opens.txt")


def fail(msg):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(BENCH, "src", "main")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} "
                   "-Dsbt.offline=true -Xmx2g")
    return env


def classpath(digest):
    if os.path.isfile(CP_FILE):
        with open(CP_FILE) as f:
            cached_digest, cp = f.read().split("\n", 1)
        if cached_digest == digest:
            return cp.strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_LIMIT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CP_FILE), exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(digest + "\n" + cp + "\n")
    return cp


def commit(digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-" + digest[:16]


def run_jvm(cmd, deadline):
    """Run the measuring JVM in its own process group and wait for it; on
    timeout the whole group is killed and reaped."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.DEVNULL, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run exceeded its time limit")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    # a terminated run still stops its JVM (run_jvm's finally) and cleans up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources (build.sbt, src/main/scala) are missing")

    digest = source_digest()
    cp = classpath(digest)
    deadline = time.time() + RUN_LIMIT_S

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(OUT, "runs", f"{tag}-{os.getpid()}")
    results = os.path.join(OUT, "results")
    traces = os.path.join(OUT, "traces")
    for d in (run_dir, os.path.join(run_dir, "tmp"), results, traces):
        os.makedirs(d, exist_ok=True)
    record_file = os.path.join(results, tag + ".json")
    if os.path.exists(record_file):
        os.remove(record_file)
    cpus = str(len(os.sched_getaffinity(0)))
    with open(ADD_OPENS_FILE) as f:
        opens = f.read().split()
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j.configurationFile={BENCH}/log4j2.properties"] +
           [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--dir", run_dir, "--spec", os.path.join(ROOT, "BENCHMARK.json"),
            "--out", record_file,
            "--trace-out", os.path.join(traces, f"{args.workload}-s{args.seed}.jsonl"),
            "--cpus", cpus, "--commit", commit(digest)])
    try:
        code = run_jvm(cmd, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not os.path.isfile(record_file):
        fail(f"run failed (exit {code})")

    with open(record_file) as f:
        record = json.load(f)
    section, declared = (("per_layer", spec["per_layer"]) if args.trace
                         else ("end_to_end", spec["end_to_end"]))
    got = record[section]
    metrics = {}
    for m in declared:
        v = got.get(m["name"])
        if v is None or v["value"] is None or v["unit"] != m["unit"]:
            fail(f"metric {m['name']} missing or with another unit: {v}")
        metrics[m["name"]] = v
    print(json.dumps(record))
    print(json.dumps({"correct": record["correct"],
                      "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
