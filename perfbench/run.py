#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the benchmark and the graft engine from the checkout's sources with
sbt when they changed (the classpath is cached under .bench_build/),
generates the workload's input tables when absent, then runs
perfbench.Main in a fresh per-run directory that holds every scratch,
checkpoint and layout file of the run and is deleted afterwards.

With --trace 1 the per-layer metrics are printed instead of the end-to-end
ones, and the run's spans are kept in .bench_build/traces/ for
summarize.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# Batch workloads: input table sizes (rows) and the data seed. The tables
# are the reference testdata's sf0.1 shapes; they do not depend on --seed,
# which permutes query order, so one set of recorded expected results
# (expected.json) checks every run.
DATA = {
    "registry-sf0.1": {"events": 100_000, "documents": 5_000, "embeddings": 2_000},
}
DATA_SEED = 42
STREAM_WORKLOADS = {"stream-main"}
WORKLOADS = sorted(DATA) + sorted(STREAM_WORKLOADS)

RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads: the engine's and the benchmark's
    sources and build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Builds when the sources changed; returns the runtime classpath and
    the engine's JVM options (root build.sbt's javaOptions: heap size and
    module opens), so the benchmark JVM runs as graft's own mains do."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("graft's sources (build.sbt, src/main/scala) are not next to the benchmark")
    stamp = source_stamp()
    cache = os.path.join(BUILD, "build.json")
    if os.path.exists(cache):
        with open(cache) as f:
            built = json.load(f)
        if built.get("stamp") == stamp:
            return built["classpath"], built["java_options"]
    os.makedirs(BUILD, exist_ok=True)
    # the engine's default heap, whatever the caller's shell sets
    env = {k: v for k, v in os.environ.items() if k != "SPARK_DRIVER_MEM"}
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "printJavaOptions", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=700).returncode
    with open(log_path) as f:
        lines = f.read().splitlines()
    opts = [line.split("\t")[1:] for line in lines if line.startswith("javaOptions\t")]
    if rc != 0 or not lines or ".jar" not in lines[-1] or len(opts) != 1:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed", 1)
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1], "java_options": opts[0]}, f)
    return lines[-1], opts[0]


def data_dir(workload):
    """The workload's input tables, generated once per (sizes, seed,
    generator source)."""
    import gen
    sizes = DATA[workload]
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read() + json.dumps([sizes, DATA_SEED]).encode()).hexdigest()[:16]
    out = os.path.join(BUILD, "data", f"{workload}-{key}")
    gen.write_tables(out, sizes, DATA_SEED)
    return out


def java(jvm, main, args, run_dir, timeout=RUN_TIMEOUT_S):
    """Runs `main` on the (classpath, JVM options) pair `jvm` that build()
    returns, with every scratch location inside `run_dir`; returns (exit
    code, stdout lines)."""
    cp, opts = jvm
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", *opts, "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={run_dir}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, main] + args)
    # spark.local.dir, set per session inside the run directory, is
    # overridden by this variable when it is set
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    try:
        p = subprocess.run(cmd, cwd=run_dir, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                           timeout=timeout, text=True, env=env)
    except subprocess.TimeoutExpired:
        fail(f"{main} did not finish within {timeout} s", 1)
    return p.returncode, p.stdout.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    leaked = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    if leaked:
        fail(f"unset {', '.join(leaked)}: graft knobs change what is measured")

    jvm = build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--run-dir", run_dir,
            "--expected", os.path.join(HERE, "expected.json"),
            "--trace-out", os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")]
    if a.workload in DATA:
        args += ["--data", data_dir(a.workload)]
    try:
        rc, out = java(jvm, "perfbench.Main", args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result = None
    if out:
        try:
            result = json.loads(out[-1])
        except ValueError:
            pass
    if rc != 0 or not isinstance(result, dict) or \
            set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"benchmark run failed (exit {rc})", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
