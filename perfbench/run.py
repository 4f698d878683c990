#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

The first run in a checkout builds the benchmark (perfbench/build.sbt, sbt
offline), which compiles the engine through the root build; the benchmark's
classpath is kept in .bench_build/. Each
run then starts one JVM whose java.io.tmpdir, Spark local dirs, topics and
checkpoints all live in a fresh directory under .bench_run/, deleted when
the run ends. Traced runs write their spans to .bench_out/. The last line
printed is the run's JSON result.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
RUNS = os.path.join(ROOT, ".bench_run")
OUT = os.path.join(ROOT, ".bench_out")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when a SparkSession starts outside
# spark-submit (the root build passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                if f.endswith(".scala"):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return max(newest, os.path.getmtime(os.path.join(HERE, "build.sbt")))


def build():
    """Compile once per checkout (again only if a source is newer)."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return open(CLASSPATH).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g"))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH + ".tmp", "w") as f:
        f.write(lines[-1].strip())
    os.replace(CLASSPATH + ".tmp", CLASSPATH)
    return lines[-1].strip()


def java_cmd(classpath, run_dir, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", *opens, "-Xms2g", "-Xmx3g", "-XX:+UseParallelGC", 
             f"-Djava.io.tmpdir={tmp}",
             "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"), "-cp", classpath, "perfbench.Main"]
            + args + ["--run-dir", run_dir, "--out-dir", OUT])


def run_jvm(cmd, timeout):
    """Runs the JVM, passing its stderr through; returns (code, stdout lines)."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {timeout}s")
    return proc.returncode, out.splitlines()


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def selftest(classpath):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    run_dir = os.path.join(RUNS, f"selftest-{os.getpid()}")
    try:
        code, lines = run_jvm(java_cmd(classpath, run_dir, [
            "--selftest", "--seed", "7", "--cores", str(min(2, cores()))]), 1800)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    problems = []
    results = 0
    for line in lines:
        if line.startswith("SELFTEST-RESULT "):
            _, workload, trace, payload = line.split(" ", 3)
            got = json.loads(payload)["metrics"]
            expected = want[int(trace)]
            results += 1
            if set(got) != set(expected):
                problems.append(f"{workload} trace={trace}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(expected) - set(got))}, extra {sorted(set(got) - set(expected))}")
            for name, m in got.items():
                if m.get("unit") != expected.get(name) or not isinstance(m.get("value"), (int, float)):
                    problems.append(f"{workload} trace={trace}: {name} printed as {m}")
        elif line.startswith("SELFTEST-"):
            print(line)
    if results != 2 * len(spec["workloads"]):
        problems.append(f"expected {2 * len(spec['workloads'])} results, got {results}")
    for p in problems:
        print(f"SELFTEST-PROBLEM {p}")
    ok = code == 0 and not problems
    print("selftest " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    # stream_answer's open-loop rate in questions/s, for capacity sweeps;
    # the benchmark's figures use the default
    ap.add_argument("--rate", type=float)
    a = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        fail(f"no engine sources at {ENGINE_SRC}: run from a checkout of the repository")
    if not a.selftest and not a.workload:
        fail("--workload is required")
    classpath = build()
    if a.selftest:
        sys.exit(selftest(classpath))
    run_dir = os.path.join(RUNS, f"{a.workload}-{a.seed}-{os.getpid()}-{int(time.time())}")
    try:
        code, lines = run_jvm(java_cmd(classpath, run_dir, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores())]
            + (["--rate", str(a.rate)] if a.rate else [])), RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result = next((l for l in reversed(lines) if l.startswith("{")), None)
    if result is None:
        fail(f"the run printed no result (exit code {code})")
    print(result)
    sys.exit(code)


if __name__ == "__main__":
    main()
