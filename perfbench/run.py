#!/usr/bin/env python3
"""graft benchmark: one workload, one JVM, one closed-loop client.

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 30 --trace 0

Run from the repository root. The first run compiles graft's main
sources and the harness into .bench_build/ with the Scala compiler
shipped among the Spark jars build.sbt names; later runs reuse that
build while the sources are unchanged. The last line of stdout is the result:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
The line before it carries the host-noise annotations.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = os.path.join(HERE, "workloads.json")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "sf0.01.json")
BUILD = ".bench_build"
# Spark on JDK 17 outside spark-submit, as build.sbt sets them.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def _read(path):
    with open(path) as f:
        return f.read()


def spark_jars():
    """The Spark jar directory build.sbt compiles against: its
    `unmanagedBase`. It also holds the Scala compiler."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _read("build.sbt"))
    if not m:
        raise BenchError("no unmanagedBase in build.sbt")
    return m.group(1)


def sources():
    graft = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not graft:
        raise BenchError("graft sources not found under src/main/scala; "
                         "run from the repository root")
    return graft + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build():
    """Compile graft and the harness into one class directory, once per
    source state."""
    files = sources()
    resources = sorted(p for p in glob.glob("src/main/resources/**", recursive=True)
                       if os.path.isfile(p))
    h = hashlib.sha256()
    for p in files + resources:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and _read(stamp_file) == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    log = os.path.join(BUILD, "compile.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["java", "-XX:+PerfDisableSharedMem", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
             "-d", classes, "-classpath", cp] + files,
            stdout=out, stderr=subprocess.STDOUT, timeout=600).returncode
    if rc != 0:
        raise BenchError("compile failed, see " + log + ":\n" + _read(log)[-3000:])
    for p in resources:
        dst = os.path.join(classes, os.path.relpath(p, "src/main/resources"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def jvm(classes, mode, out, timeout=600.0, **args):
    """Run the harness in a fresh JVM; returns its JSON result."""
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    scratch = os.path.abspath(os.path.join(BUILD, "scratch"))
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(scratch, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # A fixed heap keeps GC sizing, and so the timings, alike between
    # runs; no shared perf-data file is written outside the checkout.
    cmd = (["java", "-XX:+PerfDisableSharedMem", "-Xms2g", "-Xmx2g"] + opens +
           ["-Dspark.ui.enabled=false", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"), "perfbench.Harness",
            "--mode", mode, "--workloads", WORKLOADS, "--sf", os.path.relpath(DATA),
            "--cores", str(metrics.cores()), "--out", out])
    for k, v in args.items():
        cmd += ["--" + k.replace("_", "-"), str(v)]
    env = dict(os.environ, GRAFT_SCRATCH_DIR=scratch)
    log = out + ".log"
    if os.path.exists(out):
        os.remove(out)
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd + ["--launch-ns", str(time.time_ns())],
                                stdout=f, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"harness timed out, see {log}")
    if rc != 0 or not os.path.exists(out):
        raise BenchError(f"harness exited {rc}, see {log}:\n" + _read(log)[-3000:])
    return json.loads(_read(out))


def main(argv):
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    with open(WORKLOADS) as f:
        if a.workload not in json.load(f)["workloads"]:
            raise BenchError(f"unknown workload {a.workload}")
    with open(EXPECTED) as f:
        expected = json.load(f)["queries"]

    classes = build()
    host = metrics.HostNoise(os.path.abspath(BUILD))
    # A run ends within 180 s of its start, a compiling one excepted.
    timeout = max(60.0, 170.0 - (time.monotonic() - started))
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    tag = f"{a.workload}-{a.seed}-{a.trace}"
    spans = os.path.abspath(os.path.join(runs, tag + ".spans.jsonl"))
    res = jvm(classes, "run", os.path.join(runs, tag + ".json"), timeout, workload=a.workload,
              seed=a.seed, seconds=a.seconds, trace=a.trace, spans=spans)
    failures = metrics.check(res["execs"], expected)
    if a.trace:
        values = metrics.per_layer(res)
    else:
        values = metrics.end_to_end(res)
    notes = host.finish(res)
    counted = metrics.counted_passes(res["execs"])
    notes["warm_passes_counted"] = counted
    notes["truncated"] = counted < metrics.LAST_PASS - metrics.FIRST_COUNTED + 1
    notes["failed_frac"] = len(failures) / len(res["execs"])
    notes["failures"] = failures[:20]
    if a.trace:
        notes["spans"] = os.path.relpath(spans)
    print(json.dumps({"annotations": notes}))
    for f in failures:
        print(f"[perfbench] FAILED {f['q']} (pass {f['pass']}): {f['why']}", file=sys.stderr)
    print(json.dumps({
        "correct": not failures,
        "attempted": len(res["execs"]),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except BenchError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
