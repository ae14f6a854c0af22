#!/usr/bin/env python3
"""Summarizes the run artifacts under .bench_build/out.

For each workload: the number of runs, and for every end-to-end metric the
median and the spread (distance between the first and third quartile over
the median, as statistics.quantiles(values, n=4) gives them) of the
untraced runs, then the tracing overhead: the change of each median from
untraced to traced runs. Run from the checkout root after some runs:

    python3 perfbench/summarize.py [artifact_dir]
"""
import glob
import json
import os
import statistics
import sys


def spread(values):
    if len(values) < 2:
        return float("nan")
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q[2] - q[0]) / med if med else float("nan")


def main():
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(".bench_build", "out")
    runs = {}
    for path in sorted(glob.glob(os.path.join(out, "*-trace[01].json"))):
        with open(path) as f:
            art = json.load(f)
        meta = art["meta"]
        runs.setdefault(meta["workload"], {}).setdefault(bool(meta["trace"]), []).append(art)
    for workload, by_trace in sorted(runs.items()):
        plain, traced = by_trace.get(False, []), by_trace.get(True, [])
        bad = [a["meta"]["seed"] for a in plain + traced if not a["correct"] or a["failed"]]
        print(f"{workload}: {len(plain)} untraced, {len(traced)} traced runs;"
              f" incorrect or failing seeds: {bad or 'none'}")
        names = sorted((plain or traced)[0]["end_to_end"])
        for name in names:
            v0 = [a["end_to_end"][name]["value"] for a in plain]
            v1 = [a["end_to_end"][name]["value"] for a in traced]
            unit = (plain or traced)[0]["end_to_end"][name]["unit"]
            line = f"  {name:22s} {unit:5s}"
            if v0:
                m0 = statistics.median(v0)
                line += f" median {m0:12.4f} spread {spread(v0):7.4f}"
            if v0 and v1:
                m1 = statistics.median(v1)
                line += f"  traced {m1:12.4f} ({(m1 - m0) / m0:+.1%})"
            print(line)


if __name__ == "__main__":
    main()
