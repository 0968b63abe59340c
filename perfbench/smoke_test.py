#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at fixture scale 0.001 with a
tiny op count:

 1. records olap_read's expected results for that scale into a
    scratch file, then runs olap_read against it: it must pass and
    print every end-to-end metric of BENCHMARK.json with its unit;
 2. corrupts one expected hash: the same run must now fail its output
    check and exit non-zero, which proves the check is live;
 3. runs lakehouse_dml briefly untraced, and both workloads traced:
    each must pass and print every end-to-end, respectively per-layer,
    metric with its unit.

Usage: python3 perfbench/smoke_test.py   (exits non-zero on failure)
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
SCRATCH = os.path.join(REPO, ".bench_build", "smoke")


def bench(workload, trace=0, extra=(), ok=True):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.001"] + list(extra)
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       timeout=600)
    if (p.returncode == 0) != ok:
        sys.exit(f"FAIL {workload} trace={trace} {extra}: exit {p.returncode}, wanted "
                 f"{'0' if ok else 'non-zero'}\n{p.stdout[-2000:]}")
    return p


def last_json(p):
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(res, specs, what):
    for m in specs:
        got = res["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            sys.exit(f"FAIL {what}: metric {m['name']} missing or without unit {m['unit']}: {got}")
    print(f"ok   {what}: {len(specs)} metrics with units")


def main():
    os.makedirs(SCRATCH, exist_ok=True)
    exp = os.path.join(SCRATCH, "olap_read-sf0.001.json")
    bench("olap_read", extra=["--record", "--expected", exp, "--max-ops", "16"])
    res = last_json(bench("olap_read", extra=["--expected", exp, "--max-ops", "4"]))
    if not res["correct"] or res["failed"]:
        sys.exit(f"FAIL olap_read against its own record: {res}")
    check_metrics(res, SPEC["end_to_end"], "olap_read untraced")

    doc = json.load(open(exp))
    first = sorted(doc["queries"])[0]
    doc["queries"][first]["hash"] += 1
    bad = os.path.join(SCRATCH, "olap_read-corrupt.json")
    json.dump(doc, open(bad, "w"))
    p = bench("olap_read", extra=["--expected", bad, "--max-ops", "16"], ok=False)
    res = last_json(p)
    if res["correct"] or res["failed"] < 1:
        sys.exit(f"FAIL corrupted hash for {first} was not caught: {res}")
    print(f"ok   corrupted expected hash of {first} fails the run (exit {p.returncode})")

    check_metrics(last_json(bench("lakehouse_dml", extra=["--max-ops", "3"])),
                  SPEC["end_to_end"], "lakehouse_dml untraced")
    check_metrics(last_json(bench("olap_read", trace=1, extra=["--expected", exp, "--max-ops", "4"])),
                  SPEC["per_layer"], "olap_read traced")
    check_metrics(last_json(bench("lakehouse_dml", trace=1, extra=["--max-ops", "3"])),
                  SPEC["per_layer"], "lakehouse_dml traced")
    print("smoke test passed")


if __name__ == "__main__":
    main()
