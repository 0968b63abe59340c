#!/usr/bin/env python3
"""Summarize a traced run's span dump.

    python3 perfbench/trace_report.py <run>.spans.json [untraced run record .json]

Prints, per layer, the spans' total and self time (a span's duration
minus the part its children cover), span counts, and the per-layer
counters with their base: files read per live file, bytes written per
row changed, jobs per statement, and so on. With an untraced run record
of the same workload, it also prints the tracing overhead: the traced
op median against the untraced one.

Without arguments it reads the newest dump under .bench_build/results/
and the untraced record of the same workload and seed next to it.
"""
import glob
import json
import os
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(os.path.dirname(HERE), ".bench_build", "results")


def union(iv):
    total, cur = 0.0, None
    for s, e in sorted(iv):
        if cur is None or s > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    if cur:
        total += cur[1] - cur[0]
    return total


def self_times(spans):
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        dur = max(0.0, (s["end_ms"] or s["start_ms"]) - s["start_ms"])
        cover = union([(max(c["start_ms"], s["start_ms"]), min(c["end_ms"] or c["start_ms"], s["end_ms"] or s["start_ms"]))
                       for c in kids[s["id"]] if c["end_ms"]])
        out[s["id"]] = (dur, max(0.0, dur - cover))
    return out


def ratio(num, den):
    return f"{num / den:.4g}" if den else "n/a"


def main():
    if len(sys.argv) > 1:
        dump = sys.argv[1]
    else:
        dumps = sorted(glob.glob(os.path.join(RESULTS, "*.spans.json")), key=os.path.getmtime)
        if not dumps:
            sys.exit("no span dump found; run with --trace 1 first")
        dump = dumps[-1]
    d = json.load(open(dump))
    spans = d["spans"]
    st = self_times(spans)
    by_layer = defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        # op spans carry their op kind as layer; call that layer "op:<kind>"
        layer = s["layer"] if s["parent"] else f"op:{s['layer']}"
        dur, own = st[s["id"]]
        row = by_layer[layer]
        row[0] += 1
        row[1] += dur
        row[2] += own
    print(f"== {d['workload']} seed {d['seed']}: {len(spans)} spans in {os.path.basename(dump)}")
    print(f"{'layer':<20}{'spans':>8}{'total_ms':>14}{'self_ms':>14}")
    for layer, (n, tot, own) in sorted(by_layer.items()):
        print(f"{layer:<20}{n:>8}{tot:>14.1f}{own:>14.1f}")
    L = d["layers"]
    ops = sum(1 for s in spans if not s["parent"])
    print("\n== per-layer counters (value, base)")
    for k, v in L.items():
        print(f"{k:<40}{v:>18.6g}")
    print("\n== ratios (value / base)")
    print(f"exec.jobs per op                     {ratio(L['exec.jobs'], ops)}  (base {ops} ops)")
    print(f"exec.tasks per job                   {ratio(L['exec.tasks'], L['exec.jobs'])}  (base {L['exec.jobs']:.0f} jobs)")
    print(f"exec.driver_gap_ms per op            {ratio(L['exec.driver_gap_ms'], ops)}  (base {ops} ops)")
    print(f"tasks.gc_ms per tasks.run_ms         {ratio(L['tasks.gc_ms'], L['tasks.run_ms'])}  (base {L['tasks.run_ms']:.0f} ms)")
    print(f"sources.files_read per live file     {ratio(L['sources.files_read'], L['sources.files_live'])}  (base {L['sources.files_live']:.0f} live files)")
    print(f"dml.bytes_written per row changed    {L['dml.bytes_written_per_row_changed']:.4g}  (base {L['dml.rows_changed']:.0f} rows changed)")
    print(f"snapshots.log_opens per commit       {ratio(L['snapshots.log_opens'], L['snapshots.commits'])}  (base {L['snapshots.commits']:.0f} commits)")
    print(f"ingest rows consumed per produced    {ratio(L['ingest.rows_consumed'], L['ingest.rows_produced'])}  (base {L['ingest.rows_produced']:.0f} rows)")

    base = sys.argv[2] if len(sys.argv) > 2 else dump.replace("-trace1.spans.json", "-trace0.json")
    if os.path.isfile(base):
        u = json.load(open(base))["detail"]["op_p50_ms"]["value"]
        t = d["op_p50_ms"]
        print(f"\n== tracing overhead: op_p50_ms traced {t:.1f} vs untraced {u:.1f} "
              f"({(t - u) / u * 100:+.1f}%, base {os.path.basename(base)})")
    else:
        print("\n== tracing overhead: no untraced record of this workload and seed to compare")


if __name__ == "__main__":
    main()
