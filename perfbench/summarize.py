#!/usr/bin/env python3
"""Summarize traced runs: per-layer self time and counts per workload.

Usage (from the repository root):

    python3 perfbench/summarize.py [TRACE.jsonl ...]

Without arguments it reads every trace under .bench_build/traces/ (one
file per traced run, written by `run.py --trace 1`). Spans nest as
pass -> query -> build/action -> Spark job. A span's self time is its
duration minus the part of it that its child spans cover; a span kind's
row sums that over every span of the kind and divides by the number of
traced passes (per traced run for the streaming workload, whose spans are
its catch-up and steady phases and its Spark jobs).
"""
import collections
import glob
import json
import os
import re
import sys


def kind(span):
    """Span kind: the name without its pass, query or job number."""
    return span["layer"] + "." + re.sub(r"[-:].*$", "", span["name"])


def covered(start, end, intervals):
    """Length of [start, end) covered by the union of `intervals`."""
    total, cur = 0, start
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, end)
        if e > s:
            total += e - s
            cur = e
    return total


def summarize(spans):
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start_us"], s["end_us"]))
    rows = collections.defaultdict(lambda: [0, 0.0, 0.0])  # count, total, self
    for s in spans:
        dur = s["end_us"] - s["start_us"]
        r = rows[kind(s)]
        r[0] += 1
        r[1] += dur / 1e6
        r[2] += (dur - covered(s["start_us"], s["end_us"], children[s["id"]])) / 1e6
    return rows


def main(paths):
    paths = paths or sorted(glob.glob(os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_build", "traces", "*.jsonl")))
    if not paths:
        sys.exit("no traces: run `python3 perfbench/run.py ... --trace 1` first")
    by_workload = collections.defaultdict(list)
    for p in paths:
        with open(p) as f:
            spans = [json.loads(line) for line in f if line.strip()]
        if spans:
            by_workload[spans[0]["workload"]].append(spans)
    for workload, runs in sorted(by_workload.items()):
        passes = sum(len({s["pass"] for s in spans if s["layer"] == "pass"}) for spans in runs)
        unit = "pass" if passes else "run"
        passes = passes or len(runs)
        total = collections.defaultdict(lambda: [0, 0.0, 0.0])
        for spans in runs:
            for k, (n, t, s) in summarize(spans).items():
                total[k][0] += n
                total[k][1] += t
                total[k][2] += s
        print(f"{workload}: {len(runs)} traced run(s), {passes} traced {'passes' if unit == 'pass' else 'runs'}; per {unit}:")
        print(f"  {'span kind':<24}{'count':>10}{'total s':>12}{'self s':>12}")
        for k, (n, t, s) in sorted(total.items(), key=lambda kv: -kv[1][2]):
            print(f"  {k:<24}{n / passes:>10.1f}{t / passes:>12.3f}{s / passes:>12.3f}")


if __name__ == "__main__":
    main(sys.argv[1:])
