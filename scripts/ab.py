#!/usr/bin/env python3
"""Old-vs-new A/B over the benchmark: runs perfbench on a base revision and
on this checkout's working tree, seed by seed, alternating which goes first.

The base is extracted once into <scratch>/ab-base-<sha> and its build reused.
The script refuses to run unless BENCHMARK.json and every path it lists are
byte-identical in both trees. Each run is `python3 perfbench/run.py ...
--trace 0` with its tree as the working directory. It prints every run's
correct/attempted/failed, then per end-to-end metric each side's median and
quartiles, the change's wins out of all pairs (ties count for neither), the
gain rule (at least 10 pairs, wins in 9 of 10 and a median better by more
than the base's interquartile range) and the bound (median no worse by more
than the bound; "unresolved" when a side spreads wider than the bound and not
every change run reads better than every base run).

    python3 scripts/ab.py --base HEAD~1 --workload feeds-ivm --seeds 301-304 --seconds 10
"""
import argparse
import filecmp
import json
import os
import shlex
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True  # importing summarize must not write into perfbench/
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
from summarize import spread  # noqa: E402


def git(*args):
    return subprocess.run(["git", "-C", ROOT] + list(args), check=True,
                          capture_output=True, text=True).stdout.strip()


def extract(rev, scratch):
    """The base revision's files under scratch, extracted once per commit."""
    sha = git("rev-parse", "--verify", rev + "^{commit}")
    tree = os.path.join(scratch, "ab-base-" + sha[:12])
    if not os.path.isdir(tree):
        os.makedirs(scratch, exist_ok=True)
        part = tempfile.mkdtemp(prefix="ab-base-", dir=scratch)
        subprocess.run(f"git -C {shlex.quote(ROOT)} archive {sha}"
                       f" | tar -x -C {shlex.quote(part)}", shell=True, check=True)
        os.rename(part, tree)
    return sha, tree


def files_under(root, rel):
    path = os.path.join(root, rel)
    if os.path.isfile(path):
        return {rel}
    found = set()
    for d, _, names in os.walk(path):
        found.update(os.path.relpath(os.path.join(d, n), root) for n in names)
    return found


def benchmark_differences(base, change, bench):
    """Paths of the benchmark's own files that differ between the trees."""
    diff = []
    for rel in ["BENCHMARK.json"] + bench["paths"]:
        a, b = files_under(base, rel), files_under(change, rel)
        diff += sorted(a ^ b)
        diff += sorted(p for p in a & b if not filecmp.cmp(
            os.path.join(base, p), os.path.join(change, p), shallow=False))
    return diff


def run(tree, workload, seed, seconds):
    cmd = ["python3", "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"ab: run failed in {tree} (exit {p.returncode}):\n"
                 + "\n".join(p.stderr.splitlines()[-20:]))
    return json.loads(lines[-1])


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def report(metric, base, change):
    name, bound = metric["name"], metric["bound"]
    b = [r["metrics"][name]["value"] for r in base]
    c = [r["metrics"][name]["value"] for r in change]
    # sign * (base - change) > 0 means the change is better
    sign = 1 if metric["better"] == "lower" else -1

    def quartiles(v):
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4) if len(v) > 1 else [med, med, med]
        return f"{med:11.2f} [{q[0]:.2f}-{q[2]:.2f}]"

    mb, mc = statistics.median(b), statistics.median(c)
    gain = sign * (mb - mc) / mb
    wins = sum(sign * (x - y) > 0 for x, y in zip(b, c))
    if len(b) < 10:
        gain_rule = "n/a (<10 pairs)"
    else:
        gain_rule = "pass" if 10 * wins >= 9 * len(b) and gain > spread(b) else "fail"
    if -gain > bound:
        verdict = "FAIL"
    elif max(spread(b), spread(c)) > bound and \
            not all(sign * (x - y) > 0 for x in b for y in c):
        verdict = "unresolved"
    else:
        verdict = "pass"
    print(f"  {name:20s} base {quartiles(b)}  change {quartiles(c)}"
          f"  {(mc - mb) / mb:+7.1%}  wins {wins}/{len(b)}"
          f"  gain {gain_rule}"
          f"  bound {bound:.0%} {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_range, help="A-B or N")
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--scratch", default=tempfile.gettempdir(),
                    help="directory for the base checkout (default: %(default)s)")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sha, base = extract(a.base, a.scratch)
    diff = benchmark_differences(base, ROOT, bench)
    if diff:
        sys.exit("ab: refusing to run, the benchmark differs between the trees:\n  "
                 + "\n  ".join(diff))

    dirty = " + uncommitted changes" if git("status", "--porcelain") else ""
    print(f"ab: {a.workload}, seeds {a.seeds[0]}-{a.seeds[-1]}, {a.seconds} s;"
          f" base {sha[:12]} ({base}), change {git('rev-parse', 'HEAD')[:12]}{dirty}")
    runs = {"base": [], "change": []}
    for i, seed in enumerate(a.seeds):
        order = [("base", base), ("change", ROOT)]
        for side, tree in order if i % 2 == 0 else order[::-1]:
            r = run(tree, a.workload, seed, a.seconds)
            runs[side].append(r)
            print(f"  seed {seed} {side:6s} correct={r['correct']}"
                  f" attempted={r['attempted']} failed={r['failed']}", flush=True)
    for metric in bench["end_to_end"]:
        report(metric, runs["base"], runs["change"])


if __name__ == "__main__":
    main()
