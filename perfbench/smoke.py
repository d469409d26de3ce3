#!/usr/bin/env python3
"""Harness smoke test on the sf0.001 corpus, with a few-second stream leg.

Usage (from the root of a checkout):  python3 perfbench/smoke.py

Checks:
  1. the result line has exactly the keys correct/attempted/failed/metrics,
     with whole-number counts, and a clean run reads correct with 0 failed;
  2. every metric of BENCHMARK.json is printed, with its unit, in untraced
     (end-to-end) and traced (per-layer) runs;
  3. a corrupted expected hash makes the run fail its check;
  4. each traced run measured every per-layer metric of the layers it
     runs (the others read 0);
  5. in the traced pass, per-query build + plan + action job counts add up
     to the listener's job total.
Exits non-zero on the first failed check. Runs take a few minutes.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.environ.get("PERFBENCH_SMOKE_DATA", "/root/testdata/sf0.001")
EXPECTED = os.path.join(HERE, "expected", "sf0.001.tsv")
OUT = os.path.join(ROOT, ".bench_build", "smoke")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(workload, trace, seconds, *extra, record=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", str(seconds), "--trace", str(trace), "--data", DATA]
    if record:
        cmd += ["--record", record]
    cmd += list(extra)
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    if p.returncode != 0:
        sys.exit("FAIL: %s exited %d" % (" ".join(cmd), p.returncode))
    return json.loads(p.stdout.strip().splitlines()[-1])


def check(cond, what):
    print(("ok    " if cond else "FAIL  ") + what)
    if not cond:
        sys.exit(1)


def shape(res, kind, what):
    check(sorted(res) == ["attempted", "correct", "failed", "metrics"], what + ": result keys")
    check(isinstance(res["attempted"], int) and res["attempted"] >= 1 and
          isinstance(res["failed"], int), what + ": whole-number counts")
    want = {m["name"]: m["unit"] for m in BENCH[kind]}
    got = {k: v.get("unit") for k, v in res["metrics"].items()}
    check(got == want, what + ": every %s metric printed with its unit" % kind)
    check(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
          what + ": every value a number")


def layers(rec, prefixes, what):
    """The program itself (not the launcher's fill-in) measured every
    per-layer metric of the layers this workload runs."""
    got = json.load(open(rec))["per_layer"]
    want = [m["name"] for m in BENCH["per_layer"] if m["name"].split(".")[0] in prefixes]
    missing = [n for n in want if n not in got]
    check(not missing, what + ": the run measured its layers' metrics %s" % (missing or ""))


def main():
    os.makedirs(OUT, exist_ok=True)
    exp = ["--expected", EXPECTED]

    res = run("batch_sf0.1", 0, 2, *exp)
    shape(res, "end_to_end", "batch untraced")
    check(res["correct"] and res["failed"] == 0, "batch untraced: clean run passes its check")

    bad = os.path.join(OUT, "corrupted.tsv")
    with open(os.path.join(HERE, "workloads.json")) as f:
        listed = set(json.load(f)["workloads"]["batch_sf0.1"]["queries"])
    lines = open(EXPECTED).read().splitlines()
    i = next(k for k, l in enumerate(lines) if l.split("\t")[0] in listed)
    f = lines[i].split("\t")
    f[1] = "%016x" % (int(f[1], 16) ^ 1)
    lines[i] = "\t".join(f)
    with open(bad, "w") as out:
        out.write("\n".join(lines) + "\n")
    res = run("batch_sf0.1", 0, 2, "--expected", bad)
    check(not res["correct"] and res["failed"] >= 1, "corrupted expected hash raises failed")

    rec = os.path.join(OUT, "batch-trace.json")
    res = run("batch_sf0.1", 1, 2, *exp, record=rec)
    shape(res, "per_layer", "batch traced")
    layers(rec, ("tables", "queries", "plans", "action", "shuffle", "functions", "setup",
                 "core", "sql", "trace"), "batch traced")
    trace = json.load(open(rec))["detail"]["trace"]
    per_query = sum(q[p]["jobs"] for q in trace["per_query"] for p in ("build", "planning", "action"))
    check(per_query == trace["listener_jobs_total"],
          "per-query job counts (%d) add up to the listener total (%d)"
          % (per_query, trace["listener_jobs_total"]))

    stream = ["--warm-seconds", "3"]
    res = run("stream_priority", 0, 3, *stream)
    shape(res, "end_to_end", "stream untraced")
    check(res["correct"] and res["failed"] == 0, "stream untraced: exactly-once check passes")
    rec = os.path.join(OUT, "stream-trace.json")
    res = run("stream_priority", 1, 3, *stream, record=rec)
    shape(res, "per_layer", "stream traced")
    layers(rec, ("streaming", "sink", "gen", "functions", "core", "sql", "trace"), "stream traced")
    print("smoke passed")


if __name__ == "__main__":
    main()
