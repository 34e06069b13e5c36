#!/usr/bin/env python3
"""Benchmark entry point for kraalerspark.

Run from the repository root:

    python3 perfbench/run.py --workload crawl|queries \
        --seed N --seconds S --trace 0|1

It builds the program and the harness from source (once per source
state), generates the workload's inputs from the seed, runs the harness
JVM, checks the outputs and prints one JSON line as the last line of
standard output. `--trace 0` reports the end-to-end metrics, `--trace 1`
the per-layer metrics of a separately traced run. Everything it writes
stays under the repository's `.bench_build/` and `target/` directories.
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
sys.path.insert(0, HERE)

import layers  # noqa: E402
import stats  # noqa: E402

DEADLINE_S = 170
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_key(root):
    """Digest of every source and build file the harness build reads."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "harness", "src")]
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "harness", "build.sbt"),
             os.path.join(HERE, "harness", "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile program + harness with sbt (offline) and return the runtime
    classpath; reuses the previous build while the sources are unchanged."""
    harness = os.path.join(HERE, "harness")
    stamp = os.path.join(harness, "target", "perfbench-classpath.json")
    key = source_key(root)
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("key") == key:
            return got["classpath"]
    repos = os.path.expanduser("~/.sbt/repositories")
    default_opts = "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else "")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", default_opts))
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=harness, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    cp = next((ln for ln in reversed(lines)
               if not ln.startswith("[") and ".jar" in ln), None)
    if proc.returncode != 0 or cp is None:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"built program and harness in {time.time() - t0:.1f} s")
    with open(stamp, "w") as fh:
        json.dump({"key": key, "classpath": cp}, fh)
    return cp


def heap_size():
    """Half the machine's memory, clamped to 2..8 GB (the tier-1 rule)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def run_harness(cp, args, work, t0_ms, spec, data_dir, deadline):
    wl = spec["workloads"][args.workload]
    conf = dict(spec["session"])
    if args.workload != "queries":
        conf.update(spec["crawl_session"])
    out = os.path.join(work, "result.json")
    heap = heap_size()
    # a fixed, pre-touched heap as build.sbt gives run mains: the first
    # touch of heap pages would otherwise land inside measured work
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC",
            "-XX:MaxGCPauseMillis=2000", "-XX:+AlwaysPreTouch",
            "-XX:+UseTransparentHugePages", f"-Djava.io.tmpdir={work}/tmp"]
           + [a for o in JDK_OPENS for a in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--out", out, "--work", work, "--data", data_dir,
              "--cores", str(os.cpu_count() or 1), "--t0-ms", str(t0_ms)]
           + [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
           + [a for k, v in wl.get("params", {}).items()
              for a in ("--param", f"{k}={v}")])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: harness exceeded the run deadline")
    if not os.path.exists(out):
        raise SystemExit(f"perfbench: harness exited {proc.returncode} without a result")
    with open(out) as fh:
        return json.load(fh)


def main():
    start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["crawl", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: run from the repository root; program sources not found")
    with open(os.path.join(HERE, "spec.json")) as fh:
        spec = json.load(fh)
    cp = build(root)

    # set-up starts once the program is built: inputs, JVM, session
    t0_ms = int(time.time() * 1000)
    work = os.path.join(root, ".bench_build", "perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data_dir = ""
        if args.workload == "queries":
            import tables
            # one dataset for every seed: the seed orders the queries, and
            # the oracle's expected results are computed once per checkout
            data_dir = os.path.join(work, "data")
            tables.generate(data_dir, 0, spec["workloads"]["queries"]["sf"])
        res = run_harness(cp, args, work, t0_ms, spec, data_dir, start + DEADLINE_S)
        checks = {}
        names = []
        if args.workload == "queries":
            import oracle
            names = sorted({o["name"] for o in res["ops"] if o["kind"] == "cold"})
            if len(names) != res["facts"].get("queries"):
                res["fatal"] = res["fatal"] or "query list incomplete"
            checks = oracle.check_all(data_dir, os.path.join(work, "results"), names,
                                      os.path.join(root, ".bench_build", "perfbench", "oracle"))
            for q, (ok, detail) in sorted(checks.items()):
                if not ok:
                    log(f"oracle mismatch {q}: {detail}")
        out = layers.report(res, checks, args.trace == 1, root, len(names))
        log(f"samples per end-to-end median: {json.dumps(stats.sample_counts(res))}")
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)
    # a printed result carries its own verdict in "correct"
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
