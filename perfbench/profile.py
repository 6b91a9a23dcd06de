#!/usr/bin/env python3
"""Profile the four query families the workloads are drawn from: run every
query of a family through the benchmark's own Runner, traced, and store
each query's per-layer record. `subsets.py` chooses the workloads' query
subsets from these profiles.

Usage (from the repository root):
    python3 perfbench/profile.py [olap|text|iterative|ingest|build_once ...]

For each family, one JVM runs a cold pass, a warm-up pass, the
verification pass and two measured passes over the whole family, traced,
in a fresh run directory, and records which derived-table paths each query
creates on its first run. Before each first run it deletes the paths
graft.Bench's build-once steps create under target/derived, so every
query that reads one of those tables rebuilds it and is recorded as its
reader. `build_once` runs graft.Bench's build-once steps in a fresh
directory and records the time of each and the paths it creates; run it
first. Output: perfbench/profile/<name>.json. A family takes 3-8 minutes
on 4 cores.
"""
import json
import os
import shutil
import signal
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
from families import FAMILIES, family  # noqa: E402

OUT = os.path.join(run.HERE, "profile")
MEASURED_PASSES = 2


def profile_family(classpath, name, sf, oracle, names):
    queries = sorted(q for q in names if family(q) == name)
    with open(os.path.join(OUT, "build_once.json")) as f:
        forget = sorted(p for step in json.load(f).values() for p in step["paths"]
                        if p.startswith("target/derived/"))
    raw, checks = run.execute(classpath, f"profile-{name}", name, queries, sf, 1, MEASURED_PASSES, 1,
                              {}, oracle, budget_s=1800,
                              jvm_flags=["--watch-derived", "1", "--forget", ",".join(forget)])
    by_query = {}
    for r in raw["queries"]:
        by_query.setdefault(r["query"], []).append(r)
    out = {}
    for q in queries:
        recs = by_query[q]
        cold = [r for r in recs if r["phase"] == "cold"][0]
        measured = [r for r in recs if r["phase"] == "measured"]
        out[q] = {
            "ok": all(r["ok"] for r in recs),
            "check": checks[q][0],
            "cold_latency_s": cold["latency_s"],
            "derived_new": cold["derived_new"],
            "latency_s": statistics.median(r["latency_s"] for r in measured),
            "layers": {k: statistics.median(r["layers"][k] for r in measured)
                       for k in measured[0]["layers"]},
        }
    return {"family": name, "queries": out, "passes": raw["passes"],
            "env": {k: v for k, v in raw["env"].items() if k not in ("session_confs", "sf_dir")}}


def build_once(classpath, sf):
    workdir = os.path.join(run.RUNS, f"profile-build-once-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    try:
        for sub in ["tmp", "local"]:
            os.makedirs(os.path.join(workdir, sub))
        open(os.path.join(workdir, ".perfbench-run"), "w").close()
        path = os.path.join(workdir, "build_once.json")
        run.run_jvm(classpath, workdir, ["--build-once", path, "--sf", sf], time.time() + 900)
        with open(path) as f:
            return json.load(f)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def main():
    todo = sys.argv[1:] or FAMILIES + ["build_once"]
    sf = run.sf_dir()
    with open(os.path.join(run.HERE, "oracle_digests.json")) as f:
        oracle = json.load(f)["queries"]
    classpath = run.build()
    os.makedirs(OUT, exist_ok=True)
    for name in todo:
        t0 = time.time()
        if name == "build_once":
            result = build_once(classpath, sf)
        elif name in FAMILIES:
            result = profile_family(classpath, name, sf, oracle, oracle.keys())
        else:
            run.fail(f"unknown family {name}")
        with open(os.path.join(OUT, f"{name}.json"), "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
            f.write("\n")
        run.log(f"profiled {name} in {time.time() - t0:.0f} s")


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
