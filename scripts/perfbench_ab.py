#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one perfbench workload.

Usage (from anywhere):
    python3 scripts/perfbench_ab.py PARENT CHANGE --workload surface \\
        --seeds 61 62 63 64 65 66 67 68 69 70 [--seconds 22] [--trace 0] [--out DIR]

PARENT and CHANGE are checkouts of the engine (e.g. `git clone` of the parent
commit and the working tree). For each seed it runs `perfbench/run.py` once
in each checkout, alternating which side runs first (even positions: parent
first). perfbench/run.py keeps every result it ever wrote in its checkout's
.bench_build/results/, and perfbench/ab.py reads every file of a directory,
so this copies only the result files this invocation wrote into fresh
per-side directories (DIR/parent and DIR/change; DIR defaults to a new
temporary directory) and runs perfbench/ab.py on those two.

Each run's one-line verdict (correct, failed, the workload's total_s) is
printed as it finishes. After perfbench/ab.py's report it prints, per query,
each side's median warm wall (the median over runs of each run's median,
from the result files' per_query), so a change to one query can be told
apart from the rest of its workload. The exit status is non-zero if any run
failed or was incorrect.

A side whose .bench_build/classpath.txt names a .bench_build path outside
that checkout is refused: a file copy of a working tree carries the
original's classpath.txt, and run.py's source stamp hashes relative paths
and contents only, so an unchanged copy would silently run the original's
classes. Delete the copy's .bench_build/ (or use `git clone`).
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(checkout, workload, seed, seconds, trace, dest):
    """One perfbench run in `checkout`; copies its result file to `dest`.
    Returns the run's last stdout line as a dict, or None if it failed."""
    name = f"{workload}-s{seed}-t{trace}.json"
    result = os.path.join(checkout, ".bench_build", "results", name)
    started = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0 or not os.path.exists(result) or os.path.getmtime(result) < started:
        print(f"[ab] {checkout} seed {seed}: run failed (exit {p.returncode})\n{p.stderr[-2000:]}",
              file=sys.stderr)
        return None
    shutil.copy2(result, os.path.join(dest, name))
    return json.loads(p.stdout.strip().splitlines()[-1])


def foreign_classes(checkout):
    """The .bench_build entries of `checkout`'s cached classpath that lie
    outside the checkout's own .bench_build/."""
    own = os.path.realpath(os.path.join(checkout, ".bench_build"))
    cp_file = os.path.join(own, "classpath.txt")
    if not os.path.exists(cp_file):
        return []
    with open(cp_file) as f:
        entries = f.read().strip().split(os.pathsep)
    return [e for e in entries if ".bench_build" in e.split(os.sep)
            and os.path.commonpath([own, os.path.realpath(e)]) != own]


def query_medians(side_dir):
    """Query -> the median over `side_dir`'s result files of each file's
    median warm wall (s)."""
    by = {}
    for f in sorted(glob.glob(os.path.join(side_dir, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        for q, v in r["per_query"].items():
            if v["warm_s"]:
                by.setdefault(q, []).append(statistics.median(v["warm_s"]))
    return {q: statistics.median(v) for q, v in by.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=22)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    for side, checkout in sides.items():
        foreign = foreign_classes(checkout)
        if foreign:
            sys.exit(f"[ab] {side} {checkout}: .bench_build/classpath.txt names another "
                     f"checkout's build ({foreign[0]}); delete {checkout}/.bench_build/")
    if a.out:
        if os.path.exists(a.out) and os.listdir(a.out):
            sys.exit(f"[ab] {a.out} is not empty")
        out = a.out
    else:
        out = tempfile.mkdtemp(prefix="perfbench-ab-")
    for side in sides:
        os.makedirs(os.path.join(out, side), exist_ok=True)

    bad = 0
    for i, seed in enumerate(a.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run(sides[side], a.workload, seed, a.seconds, a.trace, os.path.join(out, side))
            if r is None or not r["correct"]:
                bad += 1
            total = r and r["metrics"].get("total_s", {}).get("value")
            print(f"[ab] seed {seed} {side:6s} correct {r and r['correct']} "
                  f"failed {r and r['failed']} total_s {total}", flush=True)
    print(f"[ab] results in {out}", flush=True)
    subprocess.run([sys.executable, os.path.join(REPO, "perfbench", "ab.py"),
                    os.path.join(out, "parent"), os.path.join(out, "change")], check=True)
    pm, cm = (query_medians(os.path.join(out, side)) for side in sides)
    fmt = lambda x: "-" if x is None else f"{x:.4f}"
    print("   per query (median warm wall, s):")
    for q in sorted(set(pm) | set(cm)):
        p, c = pm.get(q), cm.get(q)
        ratio = f"x{c / p:.3f}" if p and c is not None else ""
        print(f"   {q:28s} parent {fmt(p):>8}  change {fmt(c):>8}  {ratio}", flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
