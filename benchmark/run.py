#!/usr/bin/env python3
"""Seeded search and write-beside-read benchmark for the graft engine.

Run from the root of a checkout:

    python3 benchmark/run.py --workload search --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark from source with sbt (offline, once per
source state), runs one workload in a fresh JVM on the exported runtime
classpath, and prints one JSON object as the last line of standard output:
{"correct", "attempted", "failed", "metrics"}. End-to-end metrics come with
--trace 0, per-layer metrics with --trace 1; names and units are those of
BENCHMARK.json. Everything the run writes lives under benchmark/.runs/ and is
removed when it ends, except that a traced run leaves its spans in
benchmark/.runs/trace-<workload>-seed<seed>.jsonl. Any failed step exits
non-zero and names the step.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
RUNS = os.path.join(HERE, ".runs")
WORKLOADS = ("search", "write_read")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
JVM_HEAP = "-Xmx3g"


def fail(step, message):
    print(f"graftbench: step '{step}' failed: {message}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose content decides the build: both build definitions
    and both source trees."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(tree):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def add_opens():
    """The --add-opens set the engine's own build gives its forked JVMs."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        text = fh.read()
    block = re.search(r"val jdk17AddOpens = Seq\((.*?)\)", text, re.S)
    if not block:
        fail("read --add-opens", "no jdk17AddOpens list in build.sbt")
    flags = []
    for pkg in re.findall(r'"([^"]+)"', block.group(1)):
        flags += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    return flags


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + benchmark once per source state; return the classpath
    and whether this call compiled."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("locate engine sources", f"no build.sbt and src/main/scala under {ROOT}")
    if shutil.which("sbt") is None:
        fail("build", "sbt is not on PATH")
    os.makedirs(TARGET, exist_ok=True)
    cp_file = os.path.join(TARGET, "graftbench.classpath")
    stamp_file = os.path.join(TARGET, "graftbench.stamp")
    with open(os.path.join(TARGET, "graftbench.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
            with open(stamp_file) as fh, open(cp_file) as cf:
                cp = cf.read().strip()
                if fh.read().strip() == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                    return cp, False
        cmd = ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
               "export bench/Runtime/fullClasspath"]
        try:
            done = subprocess.run(cmd, cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
                                  capture_output=True, text=True, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail("build", f"sbt did not finish within {BUILD_LIMIT_S} s")
        lines = [l for l in done.stdout.splitlines() if l.strip()]
        if done.returncode != 0 or not lines or ".jar" not in lines[-1]:
            sys.stderr.write("\n".join((done.stdout + done.stderr).splitlines()[-40:]) + "\n")
            fail("build", f"sbt exited with {done.returncode}")
        cp = lines[-1].strip()
        with open(cp_file, "w") as fh:
            fh.write(cp)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        return cp, True


def metric_spec(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    try:
        with open(path) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        fail("read BENCHMARK.json", str(e))
    return spec["per_layer" if trace else "end_to_end"]


def run_jvm(cp, args, scratch, budget_s):
    out = os.path.join(scratch, "result.json")
    cmd = [os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java",
           JVM_HEAP, *add_opens(),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
           f"-Dspark.local.dir={os.path.join(scratch, 'spark')}",
           "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--scratch", os.path.join(scratch, "data"), "--out", out]
    if args.trace:
        cmd += ["--trace-out", os.path.join(RUNS, f"trace-{args.workload}-seed{args.seed}.jsonl")]
    os.makedirs(os.path.join(scratch, "tmp"))
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the JVM's own output goes to stderr: stdout carries only the result line
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr.fileno(), stderr=sys.stderr.fileno(),
                            start_new_session=True)
    try:
        code = proc.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        stop(proc)
        fail("run", f"the benchmark JVM did not finish within {budget_s:.0f} s")
    except BaseException:
        stop(proc)
        raise
    if code != 0:
        fail("run", f"the benchmark JVM exited with {code} (its failed step is named above)")
    with open(out) as fh:
        return json.load(fh)


def stop(proc):
    """Terminate the JVM's process group and wait until it has ended."""
    for sig, grace in ((signal.SIGTERM, 10), (signal.SIGKILL, 30)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        try:
            proc.wait(timeout=grace)
            return
        except subprocess.TimeoutExpired:
            continue


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # a signal must still clean up: turn SIGTERM into an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    start = time.monotonic()
    spec = metric_spec(args.trace)
    cp, built = build()
    os.makedirs(RUNS, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=RUNS)
    try:
        # a run that had to compile first still gets the whole run limit
        budget = RUN_LIMIT_S - (0.0 if built else time.monotonic() - start)
        raw = run_jvm(cp, args, scratch, budget)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    metrics = {}
    for m in spec:
        if m["name"] not in raw["metrics"]:
            fail("report", f"the run did not measure {m['name']}")
        metrics[m["name"]] = {"value": raw["metrics"][m["name"]], "unit": m["unit"]}
    print(json.dumps({"correct": bool(raw["correct"]), "attempted": int(raw["attempted"]),
                      "failed": int(raw["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
