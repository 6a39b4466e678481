#!/usr/bin/env python3
"""Alternated A/B runs of the perfbench benchmark between two revisions.

    python3 tools/ab.py --dir DIR --parent REV [--change REV] \\
        --workload solution --pairs 10 --seeds 2,3,7,9,10

Each side is extracted with `git archive` into DIR/ab_parent and
DIR/ab_change (never a copy of a built checkout: its incremental build
state points back at the original). Without --change the change side is
the working tree, staged and unstaged edits included (`git stash create`,
which leaves the tree as it is; untracked files need `git add` first).
One unrecorded run per side builds it and warms the file cache. Then
pair i runs seed i (cycling through --seeds) on both sides, parent first
in even pairs and change first in odd ones, and records each run's
launch posture: the 1-minute loadavg, and the non-idle share of all CPU
time over the ~2 s before launch (from /proc/stat). The loadavg still
carries the previous run's decaying load; the busy share reads what the
box does right now, so co-tenant load shows apart from the A/B's own.
Every run is one `perfbench/run.py --trace 0` call in
its side's checkout; nothing under perfbench/ is read otherwise.

Runs are appended to DIR/ab_runs.jsonl as they finish. At the end (or
with --summarize FILE alone) the tool prints, per end-to-end metric, each
side's median and quartile spread (q3 - q1), the change's median gain,
the pairs the change won, and whether the gain is claimable: the change
won at least nine tenths of the pairs and its median gain exceeds the
parent's quartile spread. Every end-to-end metric is lower-is-better.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

SIDES = ("parent", "change")


def quantile(xs, q):
    """Linear-interpolated quantile of `xs` (numpy's default method)."""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (pos - lo) * (xs[hi] - xs[lo])


def spread(xs):
    """Distance between the quartiles."""
    return quantile(xs, 0.75) - quantile(xs, 0.25)


def order(pair):
    """The sides of pair `pair` in run order: parent first in even pairs."""
    return SIDES if pair % 2 == 0 else SIDES[::-1]


def summarize(runs):
    """Per metric: {parent, change, parent_spread, change_spread, gain,
    won, pairs, clears} over the pairs where both sides ran and were
    correct. `gain` is parent median - change median; `clears` holds
    when the change won at least nine tenths of the pairs and
    gain > parent_spread."""
    by_pair = {}
    for r in runs:
        if r["correct"]:
            by_pair.setdefault(r["pair"], {})[r["side"]] = r["metrics"]
    pairs = [p for p in sorted(by_pair) if len(by_pair[p]) == 2]
    names = sorted({m for p in pairs for s in SIDES for m in by_pair[p][s]})
    out = {}
    for m in names:
        vals = {s: [by_pair[p][s][m] for p in pairs] for s in SIDES}
        med = {s: quantile(vals[s], 0.5) for s in SIDES}
        gain = med["parent"] - med["change"]
        won = sum(c < p for p, c in zip(vals["parent"], vals["change"]))
        out[m] = {
            "parent": med["parent"], "change": med["change"],
            "parent_spread": spread(vals["parent"]),
            "change_spread": spread(vals["change"]),
            "gain": gain,
            "won": won,
            "pairs": len(pairs),
            "clears": 10 * won >= 9 * len(pairs) > 0 and gain > spread(vals["parent"]),
        }
    return out


def report(runs):
    rows = summarize(runs)
    loads = [r["loadavg"] for r in runs]
    busy = [r["cpu_busy"] for r in runs if "cpu_busy" in r]
    lines = [(f"{len(runs)} runs, launch loadavg {min(loads):.2f}-{max(loads):.2f}" +
              (f", cpu busy {min(busy):.2f}-{max(busy):.2f}" if busy else ""))
             if loads else "no runs",
             f"{'metric':14} {'parent':>9} {'(q3-q1)':>9} {'change':>9} {'(q3-q1)':>9}"
             f" {'gain':>9} {'won':>6}  clears"]
    for m, s in rows.items():
        lines.append(f"{m:14} {s['parent']:9.3f} {s['parent_spread']:9.3f}"
                     f" {s['change']:9.3f} {s['change_spread']:9.3f} {s['gain']:9.3f}"
                     f" {s['won']:>2}/{s['pairs']:<3}  {'yes' if s['clears'] else 'no'}")
    return "\n".join(lines)


# ------------------------------------------------------------------ runs

def extract(rev, dest):
    """`git archive` of `rev` (None: the working tree) into `dest`."""
    if rev is None:
        rev = subprocess.run(["git", "stash", "create"], capture_output=True,
                             text=True, check=True).stdout.strip() or "HEAD"
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", rev], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {rev} failed")


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times(stat):
    """(busy, total) CPU time in jiffies from the aggregate `cpu` line of a
    /proc/stat text. Idle and iowait count as idle; steal (time another
    guest of the host ran) counts as busy. guest and guest_nice are left
    out of the total: the kernel already counts them in user and nice."""
    for line in stat.splitlines():
        fields = line.split()
        if fields and fields[0] == "cpu":
            ticks = [int(v) for v in fields[1:9]]
            idle = sum(ticks[3:5])
            return sum(ticks) - idle, sum(ticks)
    raise ValueError("no aggregate cpu line in /proc/stat text")


def busy_share(before, after):
    """Non-idle share of the CPU time between two /proc/stat texts."""
    (b0, t0), (b1, t1) = cpu_times(before), cpu_times(after)
    return (b1 - b0) / (t1 - t0) if t1 > t0 else 0.0


def cpu_busy(seconds=2.0):
    """Non-idle CPU share of the whole box over the next `seconds`."""
    with open("/proc/stat") as f:
        before = f.read()
    time.sleep(seconds)
    with open("/proc/stat") as f:
        return busy_share(before, f.read())


def run_once(checkout, workload, seed, seconds):
    """One perfbench run; returns (correct, {metric: value})."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return False, {}
    last = json.loads(lines[-1])
    return last["correct"], {k: v["value"] for k, v in last["metrics"].items()}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--dir", help="work directory for the two checkouts and the run log")
    ap.add_argument("--parent", help="parent revision")
    ap.add_argument("--change", help="change revision (default: the working tree)")
    ap.add_argument("--workload", default="solution")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="2,3,4,5,6,7,8,9,10,11")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--summarize", metavar="FILE", help="only print the summary of FILE")
    args = ap.parse_args(argv)

    if args.summarize:
        with open(args.summarize) as f:
            print(report([json.loads(line) for line in f if line.strip()]))
        return 0
    if not args.dir or not args.parent:
        ap.error("--dir and --parent are required unless --summarize is given")
    checkouts = {s: os.path.join(os.path.abspath(args.dir), f"ab_{s}") for s in SIDES}
    extract(args.parent, checkouts["parent"])
    extract(args.change, checkouts["change"])
    seeds = [int(s) for s in args.seeds.split(",")]
    for side in SIDES:  # build and warm; not recorded
        run_once(checkouts[side], args.workload, seeds[0], args.seconds)
    log = os.path.join(args.dir, "ab_runs.jsonl")
    runs = []
    for pair in range(args.pairs):
        seed = seeds[pair % len(seeds)]
        for side in order(pair):
            busy = cpu_busy()
            load = loadavg()
            correct, values = run_once(checkouts[side], args.workload, seed, args.seconds)
            run = {"pair": pair, "side": side, "seed": seed, "loadavg": load,
                   "cpu_busy": busy, "correct": correct, "metrics": values}
            runs.append(run)
            with open(log, "a") as f:
                f.write(json.dumps(run, sort_keys=True) + "\n")
            print(json.dumps(run, sort_keys=True), flush=True)
    print(report(runs))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
