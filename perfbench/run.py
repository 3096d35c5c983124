#!/usr/bin/env python3
"""solrspark benchmark: build, query and ingest workloads.

Run from the repository root:

    python3 perfbench/run.py --workload build|query|ingest|all \
        --seed N --seconds S --trace 0|1

The first run compiles the engine's sources (src/main/scala) together with
the benchmark's Scala sources with sbt; later runs reuse the classes until a
source file changes. Each run starts one JVM (Spark local[n], n = min(4,
available cores)), prints the workload's metrics by name and unit, and ends
with one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics; a traced run also writes every span to
perfbench/out/trace-<workload>-seed<n>.json and prints the tracing overhead
against the last untraced run of the same workload, seed and length.
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
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
STAMP = os.path.join(TARGET, "perfbench.stamp")
WORK = os.path.join(HERE, "work", str(os.getpid()))  # private to this run
OUT = os.path.join(HERE, "out")
WORKLOADS = ("build", "query", "ingest")
RUN_LIMIT_S = 175  # a run must end within 180 s
BUILD_LIMIT_S = 840  # the first run of a checkout may take 900 s
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build():
    """Compiles with sbt unless the classes match the current sources."""
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # offline, and no launcher lock file written outside the checkout
    for opt in ("-Dsbt.offline=true", "-Dsbt.boot.lock=false"):
        if opt not in env.get("SBT_OPTS", ""):
            env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " " + opt).strip()
    t0 = time.time()
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                        BUILD_LIMIT_S, cwd=HERE, env=env, stdout=sys.stderr,
                        stderr=sys.stderr)
    if code != 0:
        fail(f"sbt compile failed (exit {code})")
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(digest)
    print(f"perfbench: compiled in {time.time() - t0:.1f} s", file=sys.stderr)


def declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
             "run from the repository root")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark installation with a jars/ directory")
    build()

    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={WORK}/tmp",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + WORK]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", WORK, "--out", OUT, "--cores", str(cores)]
    runs = len(WORKLOADS) if a.workload == "all" else 1
    budget = runs * RUN_LIMIT_S - (time.time() - t_start)
    try:
        code, out = run_group(cmd, max(10, budget), cwd=ROOT, stdout=subprocess.PIPE,
                              text=True)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    lines = out.splitlines()
    results = [l for l in lines if l.startswith("RESULT ")]
    for l in lines:
        if not l.startswith(("RESULT ", "E2E ")):
            print(l)
    if code != 0 or len(results) != 1:
        fail(f"benchmark JVM exited {code} without one result line")
    result = json.loads(results[0][len("RESULT "):])

    if a.workload != "all":
        kind = "per_layer" if a.trace else "end_to_end"
        want, got = declared(kind), list(result["metrics"])
        if sorted(want) != sorted(got):
            fail(f"metrics {sorted(set(got) ^ set(want))} differ from BENCHMARK.json {kind}")
        e2e = {}
        for l in lines:
            if l.startswith("E2E "):
                e2e = json.loads(l[len("E2E "):])["metrics"]
        key = os.path.join(OUT, f"e2e-{a.workload}-seed{a.seed}-s{a.seconds}")
        if a.trace == 0:
            with open(key + "-trace0.json", "w") as f:
                json.dump(e2e, f)
        elif os.path.exists(key + "-trace0.json"):
            with open(key + "-trace0.json") as f:
                base = json.load(f)
            overhead = {k: {"traced": v["value"], "untraced": base[k]["value"],
                            "overhead": v["value"] - base[k]["value"], "unit": v["unit"]}
                        for k, v in e2e.items() if k in base}
            with open(key + "-overhead.json", "w") as f:
                json.dump(overhead, f, indent=1)
            print("tracing overhead (traced - untraced):")
            for k, o in overhead.items():
                print(f"  {k:<40} {o['overhead']:+14.4f} {o['unit']}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
