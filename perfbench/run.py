#!/usr/bin/env python3
"""Benchmark for the graft engine: CDC pipeline replay, and gold-mart reads
plus ext analytics, each op timed to its full output.

Run from the repository root:

    python3 perfbench/run.py --workload pipeline_replay --seed 1 --seconds 50 --trace 0

Workloads are listed in BENCHMARK.json. The timed region of a run is one
pass of fixed work, sized to fit --seconds: one run date through the
pipeline (about 14 s on 4 cores) or the 18 queries (about 40 s); a pass
that takes longer than --seconds is reported on standard error.

The script builds the engine and the harness from source with sbt
(perfbench/build.sbt, output under .bench_build/ and target/), then runs
one workload in a single JVM and prints the result as the last line of
standard output:

    {"correct": true, "attempted": 18, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
run records spans around each layer's calls and reports per-layer metrics
(the spans are written to .bench_build/trace/). Input tables are read from
$GRAFTBENCH_DATA/sf0.01 and sf0.1 (default: the testdata directory in the
user's home). Each run works in a fresh directory under
.bench_build/runs/ that is deleted when the run ends.
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

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("pipeline_replay", "queries")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# the engine's own heap setting (build.sbt)
JAVA_MEM = os.environ.get("SPARK_DRIVER_MEM", "8g")
# Spark on JDK 17 outside spark-submit (same list as the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint(root):
    """Hash of every input of the build: engine sources, harness sources
    and both build definitions."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
            "perfbench/project", "perfbench/src"]
    for top in tops:
        path = os.path.join(root, top)
        files = []
        if os.path.isfile(path):
            files = [path]
        else:
            for d, dirs, names in os.walk(path):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                files += [os.path.join(d, n) for n in names
                          if n.endswith((".scala", ".sbt", ".properties", ".java"))]
        for f in sorted(files):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out):
    """Compiles the engine and the harness; returns the runtime classpath."""
    stamp = os.path.join(out, "build.stamp")
    cp_file = os.path.join(out, "classpath.txt")
    fp = source_fingerprint(root)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == fp:
                with open(cp_file) as fc:
                    return fc.read().strip()
    log("building engine and harness with sbt")
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S, text=True)
    lines = [x for x in proc.stdout.splitlines() if x.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp, "w") as fh:
        fh.write(fp)
    log(f"built in {time.time() - t0:.1f}s")
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: run from the root of a graft checkout "
                         "(build.sbt and src/main/scala/graft not found)")
    data = os.environ.get("GRAFTBENCH_DATA", os.path.join(os.path.expanduser("~"), "testdata"))
    # the pipeline's cost is per-partition and per-job overhead, so it runs
    # at sf0.1; the queries run at sf0.01 to fit a run's budget
    queries_sf, pipeline_sf = os.path.join(data, "sf0.01"), os.path.join(data, "sf0.1")
    for d in (queries_sf, pipeline_sf):
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: input tables not found at {d}")

    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    classpath = build(root, out)

    work = os.path.join(out, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    trace_out = os.path.join(out, "trace", f"{args.workload}-seed{args.seed}.jsonl")
    cmd = (["java", f"-Xmx{JAVA_MEM}", "-Duser.timezone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work}/warehouse",
              f"-Dderby.system.home={work}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", classpath, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", queries_sf, "--pipeline-data", pipeline_sf, "--work", work,
              "--expected", os.path.join(HERE, "expected_hashes.tsv"),
              "--trace-out", trace_out])
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"perfbench: {args.workload} did not finish in {RUN_TIMEOUT_S}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [x for x in stdout.splitlines() if x.strip()]
    for x in lines[:-1]:
        print(x, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: {args.workload} exited with {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit("perfbench: malformed result line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
