#!/usr/bin/env python3
"""A/B comparison of two sets of benchmark results.

Usage:
    python3 perfbench/ab.py PARENT_RESULTS_DIR CHANGE_RESULTS_DIR
    python3 perfbench/ab.py RESULTS_DIR      # counter-determinism report

Each directory holds the files perfbench/run.py writes to
.bench_build/results/ (<workload>-s<seed>-t<trace>.json), e.g. from a
checkout of the parent commit and one of the change, run with the same
seeds. For each workload it prints:
  - per end-to-end metric: each side's median and quartiles (untraced runs),
    the fraction of seed-matched pairs the change won (ties count for
    neither), and whether the change clears the bound in BENCHMARK.json;
  - per per-layer metric (traced runs): each side's median and the delta.
With one directory it lists, per query of the traced runs, whether the
job, stage and task counts of construction and action repeated exactly
across all warm traced passes of all runs (see perfbench/determinism.json).
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        runs.setdefault((r["workload"], r["trace"]), {})[r["seed"]] = r
    return runs


def quart(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def better(spec, a, b):
    """+1 if b beats a under spec's direction, -1 if worse, 0 on a tie."""
    if a == b:
        return 0
    return 1 if (b < a) == (spec.get("better", "lower") == "lower") else -1


def main(pdir, cdir):
    spec_path = os.path.join(HERE, "..", "BENCHMARK.json")
    spec = {}
    if os.path.exists(spec_path):
        with open(spec_path) as f:
            b = json.load(f)
        spec = {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}
    P, C = load(pdir), load(cdir)
    for wl in sorted({w for w, _ in P} | {w for w, _ in C}):
        print(f"== {wl}")
        p, c = P.get((wl, 0), {}), C.get((wl, 0), {})
        seeds = sorted(set(p) & set(c))
        names = sorted({k for r in list(p.values()) + list(c.values()) for k in r["end_to_end"]})
        print(f"   end to end: {len(p)} parent runs, {len(c)} change runs, {len(seeds)} pairs")
        for m in names:
            pv = [r["end_to_end"][m] for r in p.values()]
            cv = [r["end_to_end"][m] for r in c.values()]
            pq, cq = quart(pv), quart(cv)
            s = spec.get(m, {})
            wins = [better(s, p[x]["end_to_end"][m], c[x]["end_to_end"][m]) for x in seeds]
            won = sum(1 for w in wins if w > 0) / len(wins) if wins else float("nan")
            ratio = cq[1] / pq[1] if pq[1] else float("nan")
            bound = s.get("bound")
            worse = (ratio - 1) if s.get("better", "lower") == "lower" else (1 - ratio)
            verdict = "" if bound is None else (
                "  REGRESSED" if worse > bound else "  within bound")
            print(f"   {m:16s} parent {pq[1]:10.4f} [{pq[0]:.4f}, {pq[2]:.4f}]"
                  f"  change {cq[1]:10.4f} [{cq[0]:.4f}, {cq[2]:.4f}]"
                  f"  x{ratio:.3f}  won {won:.2f}{verdict}")
        p, c = P.get((wl, 1), {}), C.get((wl, 1), {})
        if p and c:
            print(f"   per layer: {len(p)} parent runs, {len(c)} change runs")
            names = sorted({k for r in list(p.values()) + list(c.values()) for k in r["per_layer"]})
            for m in names:
                pm = statistics.median(r["per_layer"].get(m, float("nan")) for r in p.values())
                cm = statistics.median(r["per_layer"].get(m, float("nan")) for r in c.values())
                print(f"   {m:26s} parent {pm:12.4f}  change {cm:12.4f}  delta {cm - pm:+.4f}")


def determinism(d):
    for (wl, trace), by_seed in sorted(load(d).items()):
        if trace != 1:
            continue
        counts, shuffle = {}, {}
        for r in by_seed.values():
            for q, v in r["per_query"].items():
                for c in v["counts"]:
                    counts.setdefault(q, set()).add(json.dumps(
                        {ph: [c[ph][k] for k in ("jobs", "stages", "tasks")] for ph in c},
                        sort_keys=True))
                    shuffle.setdefault(q, set()).add(
                        sum(c[ph]["shuffle_write"] for ph in c))
        print(f"== {wl}: {len(by_seed)} traced runs")
        for q in sorted(counts):
            n = len(counts[q])
            print(f"   {q:28s} {'repeats' if n == 1 else f'{n} distinct job/stage/task sets'}"
                  f"; shuffle bytes {'repeat' if len(shuffle[q]) == 1 else f'vary {min(shuffle[q])}..{max(shuffle[q])}'}")
            if n > 1:
                for c in sorted(counts[q]):
                    print(f"      {c}")


if __name__ == "__main__":
    if len(sys.argv) == 2:
        determinism(sys.argv[1])
    elif len(sys.argv) == 3:
        main(sys.argv[1], sys.argv[2])
    else:
        sys.exit(__doc__)
