#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark from source on first use (see
build.py), generates the fixture tables once (gen_data.py), then runs
the workload in one JVM with one client thread on Spark local[k],
k = min(nproc - 1, 4), at least 1. The last stdout line is one JSON
object with the keys correct, attempted, failed and metrics: the
end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Lines before it give the workload's own named metrics and
the host-health stamps.
Exits 1 when an output check fails, 2 when the run could not be made.

Everything the run writes stays under .bench_build/ in the repo root.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("olap_read", "lakehouse_dml")
OUT = os.path.join(REPO, ".bench_build")
# scale factor of the fixture tables olap_read reads (lakehouse_dml
# generates its rows in the engine)
SCALE = "0.02"
DATA_SEED = 42
JVM_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fixtures(scale):
    d = os.path.join(OUT, "data", f"sf{scale}-seed{DATA_SEED}")
    if not os.path.isfile(d + ".done"):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), d, scale,
                        str(DATA_SEED)], check=True, stdout=sys.stderr)
        open(d + ".done", "w").close()
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default=SCALE, help="fixture scale factor")
    ap.add_argument("--max-ops", type=int, default=0, help="stop after this many timed ops")
    ap.add_argument("--expected", help="expected olap_read results (default: recorded file)")
    ap.add_argument("--record", action="store_true",
                    help="olap_read: record expected results and keep outputs for the oracle check")
    a = ap.parse_args()

    classes = build.build(os.path.join(OUT, "classes"))
    data = fixtures(a.scale)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    record = os.path.join(results, tag + ".json")
    expected = a.expected or os.path.join(HERE, "expected", f"olap_read-sf{a.scale}.json")

    # a fixed-size heap: no resizing, so collections come at the same
    # points from run to run; -XX:-UsePerfData: no hsperfdata file in
    # the system temp directory
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work, "--out", record,
            "--max-ops", str(a.max_ops), "--expected", expected]
    if a.record:
        cmd += ["--record", os.path.join(OUT, "oracle", f"sf{a.scale}")]
    if os.path.exists(record):
        os.remove(record)
    try:
        proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=JVM_TIMEOUT_S, cwd=work)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        code = "timeout"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isfile(record):
        print(f"perfbench: {a.workload} run did not complete (jvm exit {code})", file=sys.stderr)
        sys.exit(2)

    rec = json.load(open(record))
    for k, m in rec["detail"].items():
        v = "nan" if m["value"] is None else f"{m['value']:.6g}"
        print(f"{a.workload} {k} {v} {m['unit']}")
    h = rec["health"]
    print("health " + json.dumps(h, sort_keys=True))
    if h["flags"]:
        print("health FLAGGED: " + "; ".join(h["flags"]))
    metrics = rec["layers"] if a.trace else rec["metrics"]
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if rec["correct"] else 1)


if __name__ == "__main__":
    main()
