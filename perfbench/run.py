#!/usr/bin/env python3
"""Build the program and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N      # every workload

Run from the root of a checkout. The program's sources (src/main/scala)
and the benchmark's (perfbench/src) are compiled together with the Scala
compiler shipped in Spark's jar directory ($SPARK_HOME/jars, else the
`unmanagedBase` that build.sbt names) into $CARGO_TARGET_DIR (default
.bench_build); the build is reused while no source changes. Inputs, outputs and traces go to
.bench_work. The last line of stdout is the JSON result of the run.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_work"
RUN_TIMEOUT_S = 170

# The JVM flags of the repo's build.sbt (forked run / test JVMs).
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", p)] + [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "8g"),
    "-XX:ReservedCodeCacheSize=512m",
    # keep every file the run writes inside the checkout (no /tmp/hsperfdata)
    "-XX:-UsePerfData",
    "-Dlog4j2.configurationFile=" + str(BENCH / "log4j2.properties"),
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one build.sbt uses."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text()) if sbt.is_file() else None
    if not found:
        fail("no Spark jar directory: set SPARK_HOME or run from a checkout")
    return Path(found.group(1))


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        fail(f"no program sources at {program.relative_to(ROOT)}; run from a checkout")
    return sorted(program.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile into the build dir unless the sources are unchanged."""
    jars = spark_jars()
    if not jars.is_dir():
        fail(f"Spark jars not found at {jars}")
    srcs = sources()
    stamp = digest(srcs)
    out = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    staging = out / "classes.staging"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    args_file = out / "scalac.args"
    args_file.write_text("\n".join(str(f) for f in srcs) + "\n")
    t0 = time.time()
    cp = str(jars / "*")
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(staging), "-classpath", cp, "@" + str(args_file)],
        stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp_file.write_text(stamp)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def declared_metrics():
    """Metric names and units declared in BENCHMARK.json, if present."""
    spec = ROOT / "BENCHMARK.json"
    if not spec.is_file():
        return None
    b = json.loads(spec.read_text())
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]},
            [w["name"] for w in b["workloads"]])


def java_cmd(classes, work, *args):
    """The JVM command line that runs perfbench.Main with its work dir."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cores = min(len(os.sched_getaffinity(0)), 4)
    return ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}",
            "-cp", f"{classes}{os.pathsep}{spark_jars() / '*'}", "perfbench.Main",
            "--cores", str(cores), "--work", str(work),
            # generated inputs are reused only by the generator that made them
            "--inputs-tag", digest(sorted((BENCH / "src").rglob("*.scala")))[:12],
            *args]


def run_one(classes, workload, seed, seconds, trace):
    """Run one workload in its own JVM; return (exit code, result or None)."""
    cmd = java_cmd(classes, WORK, "--workload", workload, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(trace))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            cwd=ROOT)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: {workload} exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1, None
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if result is not None:
        declared = declared_metrics()
        if declared is not None:
            want = declared[1] if trace else declared[0]
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                print(f"perfbench: printed metrics differ from BENCHMARK.json: "
                      f"{sorted(set(got.items()) ^ set(want.items()))}", file=sys.stderr)
                return 1, None
    return proc.returncode, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    classes = build()
    if a.workload != "all":
        code, result = run_one(classes, a.workload, a.seed, a.seconds, a.trace)
        if result is None:
            sys.exit(code or 1)
        print(json.dumps(result))
        sys.exit(code)
    declared = declared_metrics()
    workloads = declared[2] if declared else ["ingest", "analytics"]
    worst = 0
    for w in workloads:
        code, result = run_one(classes, w, a.seed, a.seconds, a.trace)
        worst = max(worst, code if result is not None else 1)
        if result is None:
            print(f"{w}: no result")
            continue
        print(f"{w}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']}")
        for name, m in result["metrics"].items():
            print(f"  {name:40s} {m['value']:14.6g} {m['unit']}")
    sys.exit(worst)


if __name__ == "__main__":
    main()
