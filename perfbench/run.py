#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the program and the benchmark from source with the benchmark's own
sbt build (perfbench/build.sbt, output in .bench_build/), then starts the JVM
directly with Spark's JDK-17 module options and a heap sized from the box, so
the JSON result reaches stdout without a build tool's log prefix. The JVM's
log goes to .bench_build/logs/, and a detailed record of the run (stamp,
per-query values, spans) to .bench_build/runs/ or to --record.

Workload settings (query list, offered rates) live in perfbench/workloads.json;
expected result hashes in perfbench/expected/.
"""
import argparse
import glob
import json
import os
import re
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "build.stamp")
DEFAULT_DATA = "/root/testdata/sf0.1"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark's own JavaModuleOptions set, as tools/bench_java.sh passes it.
JVM_OPTS = [
    "-XX:+IgnoreUnrecognizedVMOptions",
    "--add-modules=jdk.incubator.vector",
] + ["--add-opens=%s=ALL-UNNAMED" % m for m in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
    "java.security.jgss/sun.security.krb5",
]] + [
    "-Djdk.reflect.useDirectMethodHandle=false",
    "-Dio.netty.tryReflectionSetAccessible=true",
    "--enable-native-access=ALL-UNNAMED",
]


def run_child(cmd, timeout, **kw):
    """Run a child to completion; on timeout, SIGTERM or SIGINT, kill it and
    wait for it before leaving. Returns (returncode, stdout or None)."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, **kw)

    def stop(signum, _frame):
        p.kill()
        p.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        return None, None
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return p.returncode, out


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources():
    pats = ["src/main/scala/**/*.scala", "perfbench/src/main/scala/**/*.scala"]
    files = [f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)]
    return files + [os.path.join(HERE, "build.sbt")]


def build():
    """Compile with sbt unless the classes are newer than every source."""
    srcs = sources()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("program sources not found under %s/src; run from the root of a checkout" % ROOT)
    if os.path.exists(STAMP) and os.path.getmtime(STAMP) >= max(os.path.getmtime(f) for f in srcs):
        return
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                       "-Dsbt.offline=true -Xmx2g" % os.path.expanduser("~/.sbt/repositories"))
    with open(os.path.join(BUILD, "logs", "build.log"), "w") as log:
        rc, _ = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], BUILD_TIMEOUT_S,
                          cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT)
    if rc is None:
        fail("build timed out")
    if rc != 0:
        fail("build failed, see .bench_build/logs/build.log")
    with open(STAMP, "w") as f:
        f.write(str(time.time()))


def stamp_commit(record):
    """Add the git commit to the run record, when run inside a clone."""
    if not os.path.exists(record):
        return
    commit = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                    text=True, timeout=10).stdout.strip() or "unknown"
        except (OSError, subprocess.SubprocessError):
            pass
    with open(record) as f:
        r = json.load(f)
    r["stamp"]["commit"] = commit
    with open(record, "w") as f:
        json.dump(r, f)
        f.write("\n")


def spark_jars():
    """The jar directory the program's own build.sbt names."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if not m:
        fail("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def heap():
    """A quarter of the box's memory, clamped to 2-8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        g = kb // (4 * 1024 * 1024)
    except (OSError, StopIteration, ValueError):
        g = 2
    return "-Xmx%dg" % min(8, max(2, g))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", default=os.environ.get("PERFBENCH_DATA", DEFAULT_DATA),
                    help="scale-factor directory of the corpus")
    ap.add_argument("--expected", help="expected-hash TSV (default: the workload's)")
    ap.add_argument("--record", help="where the detailed run record goes")
    ap.add_argument("--warm-seconds", type=float,
                    help="unmeasured stream time before the window (default 10)")
    ap.add_argument("--record-expected", metavar="TSV",
                    help="instead of a run, write the hash and row count of every "
                         "registered query on --data (each run twice; unstable ones left out)")
    a = ap.parse_args()
    if not a.record_expected and a.seconds <= 0:
        ap.error("--seconds must be positive")

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in spec["workloads"]:
        fail("unknown workload %s" % a.workload)
    w = spec["workloads"][a.workload]
    if not os.path.isdir(a.data):
        fail("corpus directory %s not found" % a.data)

    build()

    work = os.path.join(BUILD, "work", a.workload)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    record = a.record or os.path.join(BUILD, "runs", a.workload,
                                      "seed%d-trace%d.json" % (a.seed, a.trace))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", os.path.abspath(a.data), "--work", work,
            "--out", os.path.abspath(record)]
    if a.record_expected:
        args = ["--workload", "record", "--seed", "0", "--seconds", "0", "--data",
                os.path.abspath(a.data), "--work", work, "--expected_out", os.path.abspath(a.record_expected)]
    elif "queries" in w:
        args += ["--queries", ",".join(w["queries"]),
                 "--expected", os.path.abspath(a.expected or os.path.join(HERE, w["expected"]))]
    # the stream's offered mix; the traced routing legs use it on every workload
    rates = w.get("rates", spec["workloads"]["stream_priority"]["rates"])
    args += ["--rates", ",".join("%s:%s" % kv for kv in rates.items())]
    if a.warm_seconds is not None:
        args += ["--warm_seconds", str(a.warm_seconds)]

    xmx = heap()
    cmd = (["java"] + JVM_OPTS + [xmx, "-Xms" + xmx[4:], "-Djava.io.tmpdir=" + tmp,
                                  "-Dderby.system.home=" + tmp,
                                  "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
                                  "graft.perfbench.Main"] + args)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log_path = os.path.join(BUILD, "logs", "%s-seed%d-trace%d.log" % (a.workload, a.seed, a.trace))
    with open(log_path, "w") as log:
        # recording every query is not a timed run and takes minutes
        rc, out = run_child(cmd, None if a.record_expected else RUN_TIMEOUT_S,
                            cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
    if rc is None:
        fail("run exceeded %d s; log in %s" % (RUN_TIMEOUT_S, log_path))
    if a.record_expected:
        if rc != 0:
            fail("recording failed; log in %s" % log_path)
        return
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines:
        fail("JVM exited with %d; log in %s" % (rc, log_path))
    stamp_commit(record)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("last JVM line is not JSON: %r" % lines[-1][:200])

    # every metric of the run's kind, by name and unit; a per-layer metric
    # of a layer this workload does not run reads 0
    kind = "per_layer" if a.trace else "end_to_end"
    got = result["metrics"]
    metrics = {}
    for m in bench[kind]:
        v = got.get(m["name"])
        if v is None and kind == "end_to_end":
            fail("end-to-end metric %s missing from the run" % m["name"])
        value = v["value"] if v is not None else 0
        if value is None:
            fail("metric %s is not a number" % m["name"])
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    result = {"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
              "failed": int(result["failed"]), "metrics": metrics}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
