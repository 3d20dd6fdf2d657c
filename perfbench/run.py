#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one workload, one seed, one run.

Usage (from the repository root):
    python3 perfbench/run.py --workload surface --seed 1 --seconds 22 --trace 0

The first run in a checkout builds the engine and the harness with sbt into
.bench_build/; later runs reuse that build while the sources are unchanged.
A run starts one JVM (perfbench.Main) that sets up a local[N] session
(N = usable cores, shuffle partitions = N, the session graft.Bench builds)
several times, then runs the workload's queries as a closed loop with one
client: a cold pass, then a fixed number of passes in seed-permuted order,
as many as the workload's nominal pass time (workloads.json) fits in
--seconds; the first two take the JIT past its ramp and the rest are the
measured warm passes. Every timed run of a query checks its row count against
perfbench/pins.json, and a check pass after the last one checks each
query's order-insensitive digest.

The last stdout line is one JSON object: correct, attempted, failed and the
metrics (end-to-end ones with --trace 0, per-layer ones with --trace 1).
Full results and raw records go to .bench_build/results and
.bench_build/records; perfbench/ab.py compares two sets of results.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.1")
WORKLOADS_FILE = os.path.join(HERE, "workloads.json")
PINS_FILE = os.path.join(HERE, "pins.json")
SETUPS = 5
# passes after the cold one that take the JIT past its steepest ramp; they
# are recorded but left out of every warm metric (README: JIT ramp)
RAMP_PASSES = 2
# a fixed initial heap: a heap grown from the JVM's small default, and shrunk
# again by the full GC after each pass, made warm passes slower (README: JIT
# ramp)
HEAP_MIN = "2g"
HEAP = "4g"
RUN_TIMEOUT_S = 170
CHECK_RESERVE_S = 40
TAIL_BEYOND = 10
BUILD_TIMEOUT_S = 700
CDS_ARCHIVE = "classes.jsa"
# Spark 4 on JDK 17 outside spark-submit needs these (the engine's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp(root):
    """Hash of every input of the build: engine sources, harness, build files."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(root, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out):
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
                text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
        fh.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed (sbt exit {p.returncode}); see {log}")
    lines = [l for l in p.stdout.splitlines()
             if not l.startswith("[") and ".jar" in l]
    if not lines:
        fail(f"build printed no classpath; see {log}")
    cp = jar_dirs(lines[-1].strip(), out)
    if os.path.exists(os.path.join(out, CDS_ARCHIVE)):
        os.remove(os.path.join(out, CDS_ARCHIVE))
    write_cds_archive(cp, out)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def write_cds_archive(cp, out):
    """Runs every workload's queries once (set-up, cold pass and check pass,
    no warm passes) in a JVM that dumps the class-data-sharing archive at
    exit (see java()), so that every measured run maps the same archive and
    none pays for writing it."""
    with open(WORKLOADS_FILE) as f:
        workloads = json.load(f)["workloads"].values()
    bases = sorted({b for wl in workloads for b in wl["bases"]})
    queries = [q for wl in workloads for q in wl["queries"]]
    os.makedirs(os.path.join(out, "logs"), exist_ok=True)
    java(cp, out, "perfbench.Main",
         [SF_DIR, len(os.sched_getaffinity(0)), os.path.join(out, "cds-records.jsonl"),
          0, 0, 0, BUILD_TIMEOUT_S, 0, 1, ",".join(bases), ",".join(queries)],
         os.path.join(out, "logs", "cds.log"), BUILD_TIMEOUT_S)


def jar_dirs(cp, out):
    """Packs the class directories of the classpath into jars: class-data
    sharing (see java()) archives classes from jars only."""
    entries = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(out, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, names in os.walk(entry):
                    for n in sorted(names):
                        z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), entry))
            entry = jar
        entries.append(entry)
    return os.pathsep.join(entries)


# ---------------------------------------------------------------- run

def java(cp, out, main, args, log, timeout):
    """Runs a harness main class; everything the JVM writes (block manager,
    shuffle, temp files) stays under .bench_build, its working directory."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Class-data sharing: the first JVM of a build (write_cds_archive) dumps
    # the classes it loaded; later ones map them instead of loading Spark
    # from jars again.
    jsa = os.path.join(out, CDS_ARCHIVE)
    cds = (f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
           else f"-XX:ArchiveClassesAtExit={jsa}")
    cmd = (["java", cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP_MIN}", f"-Xmx{HEAP}", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", "-cp", cp, main]
           + [str(a) for a in args])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=out, env=env)
        try:
            rc = p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{main} exceeded its time limit; see {log}")
    if rc != 0:
        fail(f"{main} exited {rc}; see {log}")


def run_jvm(cp, out, wl, seed, seconds, trace, cores, deadline):
    tag = f"{wl['name']}-s{seed}-t{trace}"
    rec = os.path.join(out, "records", tag + ".jsonl")
    warm_passes = max(3, round(seconds / wl["pass_s"]) - RAMP_PASSES)
    # the JVM starts no warm pass it expects to end later than this, which
    # leaves room for the check pass and shutdown
    jvm_deadline = deadline - time.time() - CHECK_RESERVE_S
    java(cp, out, "perfbench.Main",
         [SF_DIR, cores, rec, seed, RAMP_PASSES, warm_passes, jvm_deadline, trace, SETUPS,
          ",".join(wl["bases"]), ",".join(wl["queries"])],
         os.path.join(out, "logs", tag + ".log"), deadline - time.time())
    with open(rec) as f:
        return [json.loads(l) for l in f if l.strip()]


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(walls):
    """Highest percentile with at least ten samples beyond it, and that
    percentile; None when too few samples put it above the median."""
    w = sorted(walls)
    k = len(w) - TAIL_BEYOND - 1
    if k <= len(w) // 2:
        return None, None
    return w[k], 100.0 * (k + 1) / len(w)


def self_time(spans, jobs):
    """Per phase name: the phases' total duration minus the part covered by
    the jobs that started inside them (ms)."""
    out = {}
    intervals = sorted((j["start"], j["end"]) for j in jobs)
    for s in spans:
        covered, cur = 0.0, s["start"]
        for a, b in intervals:
            if s["start"] <= a <= s["end"]:
                a, b = max(a, cur), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur = b
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def per_query_sum(qs, key):
    """Sum over queries of each query's median `key` across the given runs."""
    by = {}
    for r in qs:
        by.setdefault(r["q"], []).append(r[key])
    return sum(median(v) for v in by.values())


def per_pass(qs, f):
    """Median over passes of the per-pass total of f(record)."""
    by = {}
    for r in qs:
        by.setdefault(r["pass"], []).append(f(r))
    return median([sum(v) for v in by.values()])


def metrics(recs, names, pins, cores):
    setups = [r for r in recs if r["kind"] == "setup"]
    qs = [r for r in recs if r["kind"] == "query"]
    digests = [r for r in recs if r["kind"] == "digest"]
    storage = next(r for r in recs if r["kind"] == "storage")
    cold = [r for r in qs if r["pass"] == 0]
    warm = [r for r in qs if r["pass"] > storage["ramp_passes"] and r["err"] is None]
    untraced = [r for r in warm if not r["traced"]]
    traced = [r for r in warm if r["traced"]]

    failures = []
    for r in qs:
        pin = pins.get(r["q"])
        if r["err"] is not None:
            failures.append(f"{r['q']} pass {r['pass']}: {r['err']}")
        elif pin is None or r["rows"] != pin["rows"]:
            failures.append(f"{r['q']} pass {r['pass']}: {r['rows']} rows, pinned "
                            f"{pin and pin['rows']}")
    for d in digests:
        pin = pins.get(d["q"])
        if "err" in d or pin is None or (d["rows"], d["digest"]) != (pin["rows"], pin["digest"]):
            failures.append(f"{d['q']} digest: {d.get('err') or (d['rows'], d['digest'])}"
                            f", pinned {pin and (pin['rows'], pin['digest'])}")
    unchecked = set(names) - {d["q"] for d in digests}
    failures += [f"{q}: no digest taken" for q in sorted(unchecked)]
    attempted = len(qs) + len(digests) + len(unchecked)

    e2e_runs = untraced or warm
    walls = [r["wall_s"] for r in e2e_runs]
    tail_v, tail_p = tail(walls)
    e2e = {
        "setup_s": median([s["start_s"] + s["warm_s"] + s["cache_s"] for s in setups]),
        "total_s": per_query_sum(e2e_runs, "wall_s"),
        "cold_s": sum(r["wall_s"] for r in cold),
        "query_p50_s": median(walls),
        "storage_mb": max(r["held_mb"] for r in e2e_runs),
    }
    info = {"warm_samples": len(walls), "warm_passes": storage["warm_passes"],
            "query_tail_s": tail_v, "tail_percentile": tail_p and round(tail_p, 1),
            "fail_ratio": len(failures) / attempted,
            "passes": [round(r["wall_s"], 3) for r in recs if r["kind"] == "pass"],
            "setups_s": [round(s["start_s"] + s["warm_s"] + s["cache_s"], 3) for s in setups],
            "measured_s": storage["measured_s"], "storage_after_mb": storage["mb"]}

    layer = {}
    if traced:
        loads = [r for r in recs if r["kind"] == "load"]
        spans = [r for r in recs if r["kind"] == "span"]
        jobs = [r for r in recs if r["kind"] == "job"]
        snap = lambda ph, k: (lambda r: r[ph][k])
        all_jobs = lambda r: r["construct"]["jobs"] + r["plan"]["jobs"] + r["action"]["jobs"]
        act_s = per_query_sum(traced, "action_s")
        task_s = per_pass(traced, snap("action", "task_s"))
        mb = lambda k: (lambda r: r["action"][k] / 1048576.0)
        # self time: phase spans of traced warm passes, minus job coverage
        pass_ids = {s["id"] for s in spans if s["name"].startswith("pass ")
                    and int(s["name"].split()[1]) in {r["pass"] for r in traced}}
        q_ids = {s["id"] for s in spans if s["parent"] in pass_ids}
        st = self_time([s for s in spans if s["parent"] in q_ids], jobs)
        self_s = lambda name: st.get(name, 0.0) / 1000 / len(pass_ids)
        by_pass_loads = {}
        for l in loads:
            by_pass_loads.setdefault(l["pass"], []).append(l)
        layer = {
            "session.start_s": median([s["start_s"] for s in setups]),
            "session.warm_s": median([s["warm_s"] for s in setups]),
            "cache.build_s": median([s["cache_s"] for s in setups]),
            "cache.jobs": median([s["cache"]["jobs"] for s in setups]),
            "cache.storage_mb": setups[-1]["storage_mb"],
            "sources.load_s": median([sum(l["s"] for l in v) for v in by_pass_loads.values()]),
            "sources.jobs_per_load": sum(l["jobs"] for l in loads) / max(1, len(loads)),
            "queries.construct_s": per_query_sum(traced, "construct_s"),
            "queries.construct_jobs": per_pass(traced, snap("construct", "jobs")),
            "queries.construct_stages": per_pass(traced, snap("construct", "stages")),
            "queries.ckpt_rdds": per_pass(traced, lambda r: r["ckpt_rdds"]),
            "queries.peak_jobs": max(r["construct"]["peak_jobs"] for r in traced),
            "queries.self_s": self_s("construct"),
            "planner.plan_s": per_query_sum(traced, "plan_s"),
            "planner.self_s": self_s("plan"),
            "executor.action_s": act_s,
            "executor.jobs": per_pass(traced, snap("action", "jobs")),
            "executor.stages": per_pass(traced, snap("action", "stages")),
            "executor.tasks": per_pass(traced, snap("action", "tasks")),
            "executor.task_s": task_s,
            "executor.core_busy": task_s / (act_s * cores) if act_s else 0.0,
            "executor.shuffle_read_mb": per_pass(traced, mb("shuffle_read")),
            "executor.shuffle_write_mb": per_pass(traced, mb("shuffle_write")),
            "executor.spill_mb": per_pass(traced, mb("spill")),
            "executor.failed_tasks": per_pass(traced, snap("action", "failed_tasks")),
            "executor.wall_ms_per_job": 1000 * per_pass(traced, lambda r: r["wall_s"])
                / max(1, per_pass(traced, all_jobs)),
            "executor.self_s": self_s("action"),
            "cleanup.s": per_query_sum(traced, "cleanup_s"),
            "cleanup.rdds_released": per_pass(traced, lambda r: r["released"]),
            "cleanup.rdds_left": storage["persistent_rdds"],
            "cleanup.storage_mb": storage["mb"],
            "cleanup.self_s": self_s("cleanup"),
            "trace.overhead": (per_query_sum(traced, "wall_s") / per_query_sum(untraced, "wall_s")
                               if untraced else 0.0),
        }
    return e2e, layer, info, failures, attempted


def per_query(recs):
    """Per query: the cold wall, the ramp and warm walls, and the per-phase
    counters of the traced passes (for ab.py and the determinism record)."""
    ramp = next(r for r in recs if r["kind"] == "storage")["ramp_passes"]
    out = {}
    for r in recs:
        if r["kind"] != "query" or r["err"] is not None:
            continue
        q = out.setdefault(r["q"], {"cold_s": None, "ramp_s": [], "warm_s": [], "counts": []})
        if r["pass"] == 0:
            q["cold_s"] = r["wall_s"]
        elif r["pass"] <= ramp:
            q["ramp_s"].append(r["wall_s"])
        else:
            q["warm_s"].append(r["wall_s"])
            if r["traced"]:
                q["counts"].append({ph: {k: r[ph][k] for k in
                                         ("jobs", "stages", "tasks", "shuffle_read", "shuffle_write")}
                                    for ph in ("construct", "action")})
    return out


E2E_UNITS = {"setup_s": "s", "total_s": "s", "cold_s": "s", "query_p50_s": "s",
             "storage_mb": "MB"}


def layer_unit(name):
    if name.endswith("_s") or name == "cleanup.s":
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms_per_job"):
        return "ms"
    if name in ("executor.core_busy", "trace.overhead"):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(root, "build.sbt")):
        fail("run from the root of a checkout of the engine (src/main/scala and build.sbt)")
    for path in (WORKLOADS_FILE, PINS_FILE, SF_DIR):
        if not os.path.exists(path):
            fail(f"missing {os.path.relpath(path, root)}")
    with open(WORKLOADS_FILE) as f:
        workloads = json.load(f)["workloads"]
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; choose from {', '.join(workloads)}")
    wl = dict(workloads[a.workload], name=a.workload)
    with open(PINS_FILE) as f:
        pins = json.load(f)["queries"]
    cores = len(os.sched_getaffinity(0))

    out = os.path.join(root, ".bench_build")
    for d in ("records", "logs", "results"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    cp = build(root, out)
    # the build may use the first-run allowance; the run itself gets its own
    deadline = time.time() + RUN_TIMEOUT_S - min(30.0, time.time() - t_start)
    recs = run_jvm(cp, out, wl, a.seed, a.seconds, a.trace, cores, deadline)
    e2e, layer, info, failures, attempted = metrics(recs, wl["queries"], pins, cores)
    for f in failures[:20]:
        print(f"[perfbench] FAIL {f}", file=sys.stderr)

    chosen = layer if a.trace else e2e
    units = {k: (layer_unit(k) if a.trace else E2E_UNITS[k]) for k in chosen}
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }
    with open(os.path.join(out, "results", f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores,
                   "end_to_end": e2e, "per_layer": layer, "info": info,
                   "failures": failures, "per_query": per_query(recs)}, f, indent=1)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "cores": cores, **info}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
