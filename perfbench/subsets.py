#!/usr/bin/env python3
"""Choose each family's query subset for the workloads, by a fixed rule
over the traced family profiles that `profile.py` writes.

Usage (from the repository root):
    python3 perfbench/subsets.py

The rule, per family:
1. Candidates are the family's queries that ran without error, whose
   result matches the oracle digest, and that read none of graft.Bench's
   build-once derived tables (a query reads one when its first run creates
   a path that a build-once step creates, per profile/build_once.json).
   Queries in REQUIRED join the subset whatever they measure.
2. The family is described by FEATURES: the shares of warm wall time spent
   in each layer and the per-second rates of jobs, tasks, shuffle, reads,
   writes, spools and graft-rule rewrites, each summed over the queries
   and divided by their summed warm latency. The distance of a subset to
   its family is the sum over features of |ln((subset + e) / (family + e))|
   with e = FLOOR * the largest value that feature takes over the four
   families: the factor between the two, with a floor so that a feature
   the family barely has weighs little.
3. From each candidate as the first pick, greedy forward selection adds
   the candidate that leaves the smallest distance, while the subset's
   summed warm latency stays within WARM_BUDGET_S and its summed cold
   latency within COLD_BUDGET_S; it goes on while the distance falls or
   the subset has fewer than MIN_QUERIES queries. Then the best single
   swap of a member for a non-member is made while one lowers the
   distance within the budgets. The subset with the smallest distance and
   at least MIN_QUERIES queries wins. Ties go to the names.

Writes profile/selection.json (the subsets and, for each family, every
feature of the whole family next to the subset's) and prints the table.
"""
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from families import FAMILIES  # noqa: E402

PROFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "profile")
# The budgets keep a run near 55 s on 4 cores with two families per
# workload (perfbench/README.md, "Workloads").
WARM_BUDGET_S = 2.25
COLD_BUDGET_S = 4.0
MIN_QUERIES = 3
FLOOR = 0.1
# s05 differs from its oracle in one rounded float and stays in text as a
# known mismatch (workloads.KNOWN_WRONG), so a change to its output shows.
REQUIRED = {"text": ["s05_label_centroids"]}

# feature -> (layer metric, divisor): the feature is the metric summed
# over the queries divided by the summed warm latency, and by the divisor.
# "cores" divides by the session's core count (task time per core).
FEATURES = {
    "build_share": ("operators.build_s", 1),
    "build_self_share": ("operators.build_self_s", 1),
    "plan_share": ("rules.plan_s", 1),
    "jobs_share": ("scheduler.job_s", 1),
    "task_share": ("exec.task_run_s", "cores"),
    "task_cpu_share": ("exec.task_cpu_s", "cores"),
    "jobs_per_s": ("scheduler.jobs", 1),
    "tasks_per_s": ("scheduler.tasks", 1),
    "actions_per_s": ("rules.actions", 1),
    "graft_rewrites_per_s": ("rules.graft_rule_effective", 1),
    "spools_per_s": ("operators.spools_at_end", 1),
    "shuffle_mb_per_s": ("shuffle.write_mb", 1),
    "read_mb_per_s": ("sources.read_mb", 1),
    "write_mb_per_s": ("sources.write_mb", 1),
}


def features(profile, queries):
    qs = [profile["queries"][q] for q in queries]
    wall = sum(q["latency_s"] for q in qs)
    cores = profile["env"]["cores"]
    out = {}
    for name, (metric, div) in FEATURES.items():
        out[name] = sum(q["layers"][metric] for q in qs) / wall / (cores if div == "cores" else div)
    return out


def distance(f, target, scale):
    return sum(abs(math.log((f[k] + FLOOR * scale[k]) / (target[k] + FLOOR * scale[k])))
               for k in FEATURES if scale[k] > 0)


def select(profile, candidates, required, scale):
    target = features(profile, list(profile["queries"]))
    q = profile["queries"]

    def fits(s):
        return (sum(q[x]["latency_s"] for x in s) <= WARM_BUDGET_S and
                sum(q[x]["cold_latency_s"] for x in s) <= COLD_BUDGET_S)

    def dist(s):
        return distance(features(profile, s), target, scale) if s else float("inf")

    def grow(chosen):
        while True:
            options = sorted((dist(chosen + [c]), c) for c in candidates
                             if c not in chosen and fits(chosen + [c]))
            if not options or (options[0][0] >= dist(chosen) and len(chosen) >= MIN_QUERIES):
                return chosen
            chosen = chosen + [options[0][1]]

    def swap(chosen):
        while True:
            best = (dist(chosen), None, None)
            for out in sorted(set(chosen) - set(required)):
                for c in candidates:
                    s = [x for x in chosen if x != out] + [c]
                    if c not in chosen and fits(s) and dist(s) < best[0] - 1e-12:
                        best = (dist(s), out, c)
            if best[1] is None:
                return chosen
            chosen = [x for x in chosen if x != best[1]] + [best[2]]

    results = []
    for first in candidates:
        if fits(list(required) + [first]):
            chosen = sorted(swap(grow(list(required) + [first])))
            if len(chosen) >= MIN_QUERIES:
                results.append((dist(chosen), chosen))
    return min(results)[1], target


def main():
    profiles = {}
    for fam in FAMILIES:
        with open(os.path.join(PROFILE, f"{fam}.json")) as f:
            profiles[fam] = json.load(f)
    with open(os.path.join(PROFILE, "build_once.json")) as f:
        build_once_paths = {p for step in json.load(f).values() for p in step["paths"]}
    fam_features = {fam: features(p, list(p["queries"])) for fam, p in profiles.items()}
    scale = {k: max(f[k] for f in fam_features.values()) for k in FEATURES}

    result = {}
    for fam, p in profiles.items():
        required = REQUIRED.get(fam, [])
        excluded = {}
        for name, q in sorted(p["queries"].items()):
            if name in required:
                continue
            if not q["ok"]:
                excluded[name] = "failed in the profile run"
            elif q["check"] != "ok":
                excluded[name] = q["check"]
            elif build_once_paths & set(q["derived_new"]):
                excluded[name] = "reads a build-once table: " + ", ".join(
                    sorted(os.path.basename(x) for x in build_once_paths & set(q["derived_new"])))
        candidates = sorted(n for n in p["queries"] if n not in excluded and n not in required)
        chosen, target = select(p, candidates, required, scale)
        sub = features(p, chosen)
        result[fam] = {
            "queries": chosen,
            "warm_latency_s": sum(p["queries"][x]["latency_s"] for x in chosen),
            "cold_latency_s": sum(p["queries"][x]["cold_latency_s"] for x in chosen),
            "distance": distance(sub, target, scale),
            "features": {k: {"family": target[k], "subset": sub[k]} for k in FEATURES},
            "excluded": excluded,
        }
        print(f"== {fam}: {len(p['queries'])} queries, {len(candidates)} candidates, "
              f"{len(excluded)} excluded; subset {chosen}")
        print(f"   warm {result[fam]['warm_latency_s']:.2f} s, cold {result[fam]['cold_latency_s']:.2f} s, "
              f"distance {result[fam]['distance']:.3f}")
        for k in FEATURES:
            print(f"   {k:22s} family {target[k]:10.4f}  subset {sub[k]:10.4f}")
    with open(os.path.join(PROFILE, "selection.json"), "w") as f:
        json.dump({"rule": "perfbench/subsets.py", "warm_budget_s": WARM_BUDGET_S,
                   "cold_budget_s": COLD_BUDGET_S, "min_queries": MIN_QUERIES,
                   "families": result}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
