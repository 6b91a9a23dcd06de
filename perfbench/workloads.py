"""The benchmark's workloads: fixed sets of SparkEntry queries at sf0.1.

The queries come from four families of SparkEntry keys in `families.py`. A
workload runs a subset of two families; the subsets are chosen by
`subsets.py` from the traced profile of each whole family
(`profile/<family>.json`, made by `profile.py`) and stored in
`profile/selection.json`. The run's --seed only shuffles the order of
every pass.

`known_wrong` maps a query whose sf0.1 result is known to differ from its
DuckDB oracle to the digest of the result the program gives: the query
stays in the workload and counts in wrong_results on every run, and the
run stays correct only while that result is unchanged.
"""
import json
import os

# s05_label_centroids: round(avg(..), 6) over a float sum whose order
# differs between the engines, 0.003213 where DuckDB gives 0.003214.
KNOWN_WRONG = {
    "s05_label_centroids": "b23260f04d8909b6929f794d790888d78f0c258147f8d49e810f568e278cb8c5",
}

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "profile", "selection.json")) as _f:
    _SELECTED = json.load(_f)["families"]


def _workload(*families):
    queries = [q for f in families for q in _SELECTED[f]["queries"]]
    return {"families": list(families), "queries": queries,
            "known_wrong": {q: d for q, d in KNOWN_WRONG.items() if q in queries}}


WORKLOADS = {
    # Read-only decision support plus the LLM-data text operators: the
    # most Catalyst work and shuffle per query and the functions/ kernels.
    "olap_text": _workload("olap", "text"),
    # Driver-loop fixpoints and the write side: tens of jobs and live
    # spools per query, COPY/DDL/partition writes and AQUMV rewrites.
    "iterative_ingest": _workload("iterative", "ingest"),
}
