#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload skew_hot --seed 1 --seconds 12 --trace 0

Builds the harness (perfbench/build.sbt, which compiles the library from
../src/main) on first use, runs one JVM on local[N] (N = min(4, usable
cores)), turns its record into metrics (metrics.py) and prints, as the last
line of stdout, {"correct", "attempted", "failed", "metrics"}. --trace 0
reports the end-to-end metrics, --trace 1 the per-layer metrics of a traced
run. Exits non-zero on a wrong result, a failed workload-property guard, a
timeout, or when the library sources are missing.

Everything the run writes stays under .bench_build/perfbench/ in the
checkout (plus sbt's target/ directories); the per-run work directory with
the generated parquet inputs is removed at exit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("skew_hot", "skew_inert", "dedup_lsh")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every input of the build, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it; kills the whole
    group on timeout, or when this process is told to stop."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"stopped by signal {signum}")
    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)}
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{cmd[0]} exceeded {timeout} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        for s, h in handlers.items():
            signal.signal(s, h)


def classpath():
    """The harness's runtime classpath, building it first if sources changed."""
    stamp = os.path.join(STATE, "build.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            built = json.load(f)
        if built.get("digest") == digest:
            return built["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if code != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write("".join(l + "\n" for l in lines[-40:]))
        fail(f"build failed (sbt exit {code}); see {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("library sources (src/main/scala) not found next to perfbench/")

    os.makedirs(STATE, exist_ok=True)
    work = os.path.join(STATE, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        cp = classpath()
        cores = min(4, len(os.sched_getaffinity(0)))
        out = os.path.join(STATE, f"record-{a.workload}-{a.seed}-t{a.trace}.json")
        if os.path.exists(out):
            os.remove(out)
        # C1 only. With the default tiered JIT, C2 is still compiling after
        # a minute of passes on 4 cores, and run medians spread by 15-33%
        # over seeds; a run has no time for a longer warm-up. C1 code settles
        # within Main's two warm-up passes. So the figures are C1 figures, not
        # production speed (NOTES.md).
        cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
               f"-Djava.io.tmpdir={tmp}",
               *ADD_OPENS, "-cp", cp, "perfbench.Main",
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--cores", str(cores),
               "--work", work, "--out", out]
        code = run_bounded(cmd, JVM_TIMEOUT_S, cwd=work, stdout=sys.stderr,
                           stdin=subprocess.DEVNULL)
        if code != 0 or not os.path.exists(out):
            fail(f"harness exited with {code}")
        with open(out) as f:
            record = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = metrics.report(record)
    guard_errors = metrics.guards(record, result["metrics"]) if a.trace else []
    for e in guard_errors:
        print(f"perfbench: workload-property guard failed: {e}", file=sys.stderr)
    shown = metrics.PER_LAYER if a.trace else metrics.END_TO_END
    result["metrics"] = {k: v for k, v in result["metrics"].items() if k in shown}
    if guard_errors:
        sys.exit(3)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
