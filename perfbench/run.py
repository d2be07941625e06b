#!/usr/bin/env python3
"""SensApp gateway benchmark runner.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <ingest|serve> --seed <n> \
        --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

The first call builds the repository's main sources together with the
harness in perfbench/src (sbt, output under .bench_build/). Each run starts
one JVM with an in-process gateway over a fresh store and Spark
local[nproc], drives it from at most nproc client threads, checks the
outputs and prints one JSON result object as the last line of stdout.
--trace 1 reports the per-layer metrics of BENCHMARK.json instead of the
end-to-end ones.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # with RUN_TIMEOUT_S, a first run stays within 900 s


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must point at a Spark 4 distribution")
    return os.path.join(home, "jars")


def build():
    """Compile once per source digest; later runs reuse the classes. A lock
    keeps concurrent runs in one checkout from building over each other."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no SensApp sources under src/main/scala/graft: run from the repository root")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return build_locked()


def build_locked():
    files = sources()
    want = digest(files)
    stamp = os.path.join(BUILD, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == want:
        return want
    spark_jars()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep sbt's temporary files and JVM perf data inside the checkout
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        os.environ.get("SBT_OPTS", ""), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                 "clean", "compile"],
                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    if rc != 0 or not os.path.isdir(CLASSES):
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as fh:
        fh.write(want)
    return want


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def jvm(main, args, tag):
    """Run a harness main; return its exit code and stdout lines. The JVM is
    killed (with everything it started) if it outlives the run timeout."""
    rundir = os.path.join(BUILD, "run", f"{tag}-{os.getpid()}")
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{CLASSES}:{spark_jars()}/*", main, *args, "--work", rundir]
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    env = dict(os.environ, SENSAPP_LOG="info")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}", 1)
        finally:
            shutil.rmtree(rundir, ignore_errors=True)
    return proc.returncode, out.splitlines()


def git_commit():
    """HEAD of the checkout, when the checkout itself is a git repository."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    out = r.stdout.split()
    if r.returncode != 0 or len(out) != 2 or os.path.realpath(out[0]) != os.path.realpath(ROOT):
        return None
    return out[1]


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and a.workload not in ("ingest", "serve"):
        fail(f"unknown workload {a.workload!r}")
    src = build()
    cores = nproc()
    if a.self_test:
        rc, lines = jvm("perfbench.SelfTest", ["--cores", str(cores)], "selftest")
        print("\n".join(lines))
        sys.exit(0 if rc == 0 and lines and lines[-1] == "SELF-TEST PASS" else 1)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    spans = os.path.join(BUILD, "traces", f"{tag}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    rc, lines = jvm("perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores), "--trace-out", spans], tag)
    if rc != 0:
        fail(f"the harness exited with {rc}; see .bench_build/logs/{tag}.log", 1)
    picked = {}
    for line in lines:
        for key in ("PERFBENCH_DETAILS ", "PERFBENCH_RESULT "):
            if line.startswith(key):
                picked[key.strip()] = json.loads(line[len(key):])
    if "PERFBENCH_RESULT" not in picked:
        fail("the harness printed no result", 1)
    result = picked["PERFBENCH_RESULT"]
    details = picked.get("PERFBENCH_DETAILS", {})
    details.update(git_commit=git_commit(), source_sha256=src, nproc=cores,
                   python=sys.version.split()[0])
    want = expected_metrics(a.trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"metrics {sorted(got.items())} do not match BENCHMARK.json {sorted(want.items())}", 1)
    print(json.dumps({"details": details}))
    print(json.dumps(result))
    if not result["correct"]:
        print("perfbench: output check failed: "
              + "; ".join(details.get("check_failures", []) + details.get("errors", [])),
              file=sys.stderr)
        sys.exit(3)


if __name__ == "__main__":
    main()
