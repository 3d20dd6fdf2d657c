#!/usr/bin/env python3
"""Regenerate or re-check perfbench/pins.json.

Usage (from the repository root):
    python3 perfbench/pin.py            # write pins.json
    python3 perfbench/pin.py --check    # compare a fresh pass with pins.json

For every query of every workload it runs perfbench.Pin, which writes the
result as parquet plus its row count and order-insensitive digest, then
cross-checks each result against its DuckDB oracle SQL with
scripts/check_oracle.py (the engine's own oracle compare). A pin records
the row count, the digest and the oracle verdict ("pass", or "none" for the
few queries without oracle SQL). Writing refuses if any oracle check fails.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    out = os.path.join(root, ".bench_build")
    os.makedirs(os.path.join(out, "logs"), exist_ok=True)
    cp = run.build(root, out)
    with open(run.WORKLOADS_FILE) as f:
        workloads = json.load(f)["workloads"]
    cores = len(os.sched_getaffinity(0))
    pins, bad = {}, []
    for name, wl in workloads.items():
        d = os.path.join(out, "pins", name)
        shutil.rmtree(d, ignore_errors=True)
        run.java(cp, out, "perfbench.Pin",
                 [run.SF_DIR, cores, d, ",".join(wl["bases"]), ",".join(wl["queries"])],
                 os.path.join(out, "logs", f"pin-{name}.log"), run.BUILD_TIMEOUT_S)
        oracle = subprocess.run(
            [sys.executable, os.path.join(root, "scripts", "check_oracle.py"), run.SF_DIR, d],
            stdout=subprocess.PIPE, text=True).stdout
        verdict = {}
        for line in oracle.splitlines():
            m = re.match(r"(PASS|FAIL) (\S+?):? ", line + " ")
            if m:
                verdict[m.group(2)] = m.group(1).lower()
        with open(os.path.join(d, "pins.jsonl")) as f:
            for line in f:
                r = json.loads(line)
                if "err" in r:
                    bad.append(f"{r['q']}: {r['err']}")
                    continue
                v = verdict.get(r["q"], "none")
                if v == "fail":
                    bad.append(f"{r['q']}: oracle mismatch")
                pins[r["q"]] = {"rows": r["rows"], "digest": r["digest"], "oracle": v}
        print(f"{name}: {len(wl['queries'])} queries, "
              f"{sum(1 for q in wl['queries'] if verdict.get(q) == 'pass')} oracle pass")
    for b in bad:
        print("BAD", b)
    if a.check:
        with open(run.PINS_FILE) as f:
            old = json.load(f)["queries"]
        diff = [q for q in sorted(pins) if pins[q] != old.get(q)]
        print(f"{len(pins) - len(diff)} / {len(pins)} pins repeat; differ: {diff}")
        return 1 if diff or bad else 0
    if bad:
        return 1
    with open(run.PINS_FILE, "w") as f:
        json.dump({"sf": "sf0.1", "queries": dict(sorted(pins.items()))}, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
