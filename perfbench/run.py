#!/usr/bin/env python3
"""Run one graft benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The script builds the library and the
benchmark from source into .bench_build/perfbench (again only when a source
file changed), runs the workload in one JVM at local[4], and prints the
result as the last line of stdout:

    {"correct": true, "attempted": 12, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list; with
--trace 1 they are its per_layer list, and the span file of the run is
written under .bench_build/perfbench/traces.
"""
import argparse
import hashlib
import json
import os
import re
import subprocess
import sys

WORKLOADS = ("hier_reshape", "corpus_curate", "ann_serve")
HEAP = "3g"
# A fixed young generation: the collector touches all of it early, so the
# peak resident set moves with the old generation (what the workload keeps
# live), not with the collector's timing-driven sizing of the young one.
YOUNG = "1g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 780
SOURCE_DIRS = ("src/main/scala", "perfbench/src")
BUILD_FILES = ("perfbench/build.sh", "perfbench/run.py", "perfbench/log4j2.properties")
# Fewer JIT and GC threads, so that background JVM work competes less with
# the four task threads on a four-core machine.
JVM_THREADS = ["-XX:CICompilerCount=2", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1"]
# Spark on JDK 17 needs these when it is not started by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    for d in SOURCE_DIRS + BUILD_FILES:
        paths = [d] if os.path.isfile(d) else sorted(
            os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs if f.endswith(".scala"))
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, or else the directory the
    project's build.sbt compiles against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def jvm(jar, archive_flags, main_class, args):
    """Command line of a benchmark JVM: explicit heap, logging to stderr
    at WARN, temporary files inside the checkout."""
    jars = os.path.join(spark_jars(), "*")
    tmp = os.path.abspath(os.path.join(os.path.dirname(jar), "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", *JVM_THREADS,
           "-XX:-UsePerfData", *archive_flags,
           f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.abspath("perfbench/log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join([jar, jars]), main_class] + args


def build(out):
    """Compiles the library and the benchmark into one jar, then writes a
    class-data-sharing archive of the classes a Spark start loads, so that
    JVM start is a small part of setup_s. Skipped when no source changed."""
    jar = os.path.abspath(os.path.join(out, "perfbench.jar"))
    archive = os.path.abspath(os.path.join(out, "perfbench.jsa"))
    stamp = os.path.join(out, "build.sha256")
    digest = sources_digest()
    if os.path.isfile(jar) and os.path.isfile(archive) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return jar, archive
    for p in (stamp, archive):
        if os.path.exists(p):
            os.remove(p)
    rc = subprocess.run(["bash", "perfbench/build.sh", jar, spark_jars()], stdout=sys.stderr,
                        timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0:
        fail(f"build failed with exit code {rc}")
    scratch = os.path.abspath(os.path.join(out, "archive-run"))
    rc = subprocess.run(jvm(jar, [f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:cds=off"],
                            "perfbench.ClassArchive", [scratch]),
                        stdout=sys.stderr, timeout=BUILD_TIMEOUT_S,
                        env=dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")).returncode
    if rc != 0 or not os.path.isfile(archive):
        fail(f"class archive step failed with exit code {rc}")
    with open(stamp, "w") as f:
        f.write(digest)
    return jar, archive


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    if not os.path.isfile("BENCHMARK.json"):
        fail("BENCHMARK.json not found; run from the repository root")
    for d in SOURCE_DIRS + ("build.sbt",):
        if not os.path.exists(d):
            fail(f"{d} not found; run from the repository root")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    out = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(out, exist_ok=True)
    jar, archive = build(out)

    cmd = jvm(jar, [f"-XX:SharedArchiveFile={archive}"], "perfbench.Main",
              ["--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out])
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s", 3)
    result = None
    for line in stdout.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        fail(f"benchmark JVM exited with code {proc.returncode}", 1)

    measured = result["metrics"]
    metrics = {}
    for m in wanted:
        if m["name"] in measured:
            value = measured[m["name"]]
        elif args.trace:
            value = 0.0  # the workload does not call this layer
        else:
            fail(f"metric {m['name']} was not measured", 1)
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    if args.trace:
        listed = {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
        extra = {k: v for k, v in measured.items() if k not in listed}
        print("[perfbench] measured " + " ".join(f"{k}={v:.6g}" for k, v in extra.items()))
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
