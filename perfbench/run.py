#!/usr/bin/env python3
"""Paper-workload benchmark of the summarization engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine's main sources together with the benchmark's own
(perfbench/build.sbt, needs sbt and SPARK_HOME) whenever a source changed,
then runs one benchmark process (perfbench.Main) and prints its result, one
JSON object, as the last line of standard output. The metrics it prints and
their units are the ones BENCHMARK.json lists: `end_to_end` untraced,
`per_layer` traced. Everything it writes stays under perfbench/target/. The
exit code is 0 only when every operation succeeded and every output check
passed.

`--fault throw` makes the first layer call of each measured pass throw and
`--fault corrupt` truncates an output file before the checks; both must make
the run fail. They exist to test the checks.
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
TARGET = os.path.join(BENCH, "target")
WORK = os.path.join(TARGET, "work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 870

# Spark 4 on JDK 17 outside spark-submit (see the root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(BENCH, "src"), ENGINE_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, env=None):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"timed out after {timeout} s: {cmd[0]}")
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Classpath of the benchmark, rebuilt when a source changed."""
    cp_file = os.path.join(TARGET, "bench-classpath.txt")
    stamp_file = os.path.join(TARGET, "bench-stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building the engine and the benchmark")
    t0 = time.time()
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                     BENCH, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.exists(cp_file):
        sys.exit(f"perfbench: build failed (exit {rc})")
    # inputs cached per seed came from the previous generator
    shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file) as f:
        return f.read().strip()


def result_line(raw, spec, trace):
    """The printed result: Main's metric values, with the units and exactly
    the metric set that BENCHMARK.json lists for this kind of run. A traced
    run reads 0 for a per-layer metric of a layer the workload does not
    exercise."""
    listed = spec["per_layer"] if trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in listed}
    values = raw["metrics"]
    unlisted = sorted(set(values) - set(units))
    if unlisted:
        sys.exit(f"perfbench: metrics missing from BENCHMARK.json: {unlisted}")
    if raw["correct"] and not trace:
        missing = sorted(set(units) - set(values))
        if missing:
            sys.exit(f"perfbench: no value for {missing}")
    bad = sorted(n for n, v in values.items() if not isinstance(v, (int, float)))
    if bad:
        sys.exit(f"perfbench: not a number: {bad}")
    # a failed run reports no timings
    metrics = {n: {"value": values.get(n, 0.0), "unit": u} for n, u in units.items()
               if raw["correct"] or n in values}
    return json.dumps({"correct": raw["correct"], "attempted": raw["attempted"],
                       "failed": raw["failed"], "metrics": metrics})


def main():
    # a TERM raises SystemExit, so run_bounded kills the JVM before exiting
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.exists(SPEC):
        sys.exit("perfbench: BENCHMARK.json not found; run from the root of a checkout")
    with open(SPEC) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fault", choices=["none", "throw", "corrupt"], default="none")
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"perfbench: engine sources not found at {os.path.relpath(ENGINE_SRC)}; "
                 "run from the root of a checkout")
    if not os.environ.get("SPARK_HOME"):
        sys.exit("perfbench: SPARK_HOME must point at a Spark distribution")
    classpath = build()

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    result = os.path.join(WORK, "result.json")
    if os.path.exists(result):
        os.remove(result)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a fixed, pre-touched heap and young generation, so collections follow
    # the program's allocation rather than the JVM's adaptive sizing, and
    # early passes pay no page faults for heap the JVM touches first
    cmd = [java, "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", WORK, "--fault", a.fault]
    rc = run_bounded(cmd, WORK, RUN_TIMEOUT_S)
    if rc is None:
        sys.exit(3)
    if os.path.exists(result):
        with open(result) as f:
            print(result_line(json.load(f), spec, a.trace), flush=True)
    elif rc == 0:
        rc = 4
    sys.exit(rc)


if __name__ == "__main__":
    main()
