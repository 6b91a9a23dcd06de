#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client running a workload of
SparkEntry queries at sf0.1, with every result checked against committed
DuckDB oracle digests.

Usage (from the repository root):
    python3 perfbench/run.py --workload olap_text --seed 1 --seconds 15 --trace 0

One run builds the program from source when needed (sbt, offline), starts
one JVM in a fresh working directory under perfbench/.runs/, and prints
every metric by name and unit. The last stdout line is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics; --trace 1 runs the same passes
with every query traced and reports the per-layer metrics, writing one
ledger record per query per pass to perfbench/results/. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(HERE, ".runs")
RESULTS = os.path.join(HERE, "results")
BUILD_STAMP = os.path.join(HERE, "target", "perfbench-classpath.json")
# Wall-clock budget of one run, build excluded.
RUN_BUDGET_S = 170

sys.path.insert(0, HERE)

# JVM options of the root build.sbt's forked runs (javaOptions), heap
# included.
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")
# A warm pass over either workload takes 5-8 s at 4 cores.
NOMINAL_PASS_S = 5


def measured_passes(seconds):
    """Warm passes that fill about `seconds`. The count is fixed by the
    argument, not by the clock, so every run of a workload measures the
    same work."""
    return max(2, round(seconds / NOMINAL_PASS_S))


def sf_dir():
    """The sf0.1 data: $PERFBENCH_SF_DIR, else the directory TESTDATA.md
    lists for scale factor 0.1."""
    if os.environ.get("PERFBENCH_SF_DIR"):
        return os.environ["PERFBENCH_SF_DIR"]
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", f.read(), re.M)
    if not m:
        fail("TESTDATA.md lists no sf 0.1 directory (set PERFBENCH_SF_DIR)")
    return m.group(1).rstrip("/")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("building (sbt compile) ...")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=850)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    log(f"built in {time.time() - t0:.1f} s")
    os.makedirs(os.path.dirname(BUILD_STAMP), exist_ok=True)
    with open(BUILD_STAMP, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


def run_jvm(classpath, workdir, jvm_args, deadline):
    """Run perfbench.Runner in `workdir`; fail the run if it fails."""
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={workdir}/tmp"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Runner"] + jvm_args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(workdir, "local"))
    with open(os.path.join(workdir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=workdir, env=env, stdin=subprocess.DEVNULL,
                                stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    if rc != 0:
        with open(os.path.join(workdir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {rc}")


def cpu_steal():
    """(steal, total) jiffies over all CPUs from /proc/stat: time the
    hypervisor ran something else while this machine's CPUs were ready."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return v[7], sum(v)


def digest(cols, rows):
    """Digest of a result canonicalized by scripts/check.py's frame()."""
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def digest_of(con, check, path):
    """Digest and row count of one parquet result, read as check.py reads it."""
    cur = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    cols, rows = check.frame(cur.fetchall(), [d[0] for d in cur.description])
    return digest(cols, rows), len(rows)


def verify(raw, verify_dir, known_wrong, oracle):
    """Compare every query's verification dump with its oracle digest, and
    the row count of each of its runs in the other passes with the
    oracle's. Returns {query: (status, digest)}; status is "ok",
    "unchecked: why", "wrong: why" or, for a listed known mismatch whose
    output is unchanged, "known wrong: why"."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import check  # the repository's canonicalization
    import duckdb
    con = duckdb.connect()
    out = {}
    for name, status in sorted(raw["verify"].items()):
        expected = oracle.get(name, {"unchecked": "no oracle digest"})
        if status != "ok":
            out[name] = (f"wrong: the query failed in the verification pass ({status})", None)
            continue
        got, n = digest_of(con, check, os.path.join(verify_dir, name))
        counts = sorted({r["rows"] for r in raw["queries"]
                         if r["query"] == name and r["ok"] and r["phase"] != "verify"})
        if "unchecked" in expected:
            out[name] = (f"unchecked: {expected['unchecked']}", got)
        elif counts != [expected["rows"]]:
            out[name] = (f"wrong: the timed passes counted {counts} rows, the oracle has {expected['rows']}", got)
        elif got == expected["digest"]:
            out[name] = ("ok", got)
        else:
            why = f"{n} rows, digest differs from the oracle's ({expected['rows']} rows)"
            out[name] = (("known wrong: " if known_wrong.get(name) == got else "wrong: ") + why, got)
    return out


def execute(classpath, tag, workload, queries, sf, seed, passes, trace, known_wrong, oracle,
            budget_s=RUN_BUDGET_S, jvm_flags=()):
    """One Runner JVM in a fresh run directory, which is removed however
    the run ends. Returns the raw samples and the oracle checks."""
    workdir = os.path.join(RUNS, f"{tag}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    try:
        for sub in ["tmp", "local"]:
            os.makedirs(os.path.join(workdir, sub))
        open(os.path.join(workdir, ".perfbench-run"), "w").close()
        raw_path = os.path.join(workdir, "raw.json")
        verify_dir = os.path.join(workdir, "verify")
        run_jvm(classpath, workdir, [
            "--workload", workload, "--sf", sf, "--queries", ",".join(queries),
            "--seed", str(seed), "--passes", str(passes), "--trace", str(trace),
            "--out", raw_path, "--verify-dir", verify_dir, *jvm_flags,
        ], time.time() + budget_s)
        with open(raw_path) as f:
            raw = json.load(f)
        return raw, verify(raw, verify_dir, known_wrong, oracle)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def percentile(values, q):
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def end_to_end(raw, checks):
    measured = [r for r in raw["queries"] if r["phase"] == "measured"]
    passes = [p for p in raw["passes"] if p["phase"] == "measured"]
    cold = [p for p in raw["passes"] if p["phase"] == "cold"][0]
    lat = [r["latency_s"] for r in measured if r["ok"]]
    metrics = {
        "setup_s": (raw["setup_s"], "s"),
        "cold_pass_s": (cold["wall_s"], "s"),
        "queries_per_s": (sum(p["queries"] for p in passes) / sum(p["wall_s"] for p in passes), "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        # the highest percentile with ten samples beyond it: a run has 24-27
        "latency_p60_s": (percentile(lat, 60), "s"),
        "retained_heap_mb": (raw["retained_heap_mb"], "MB"),
    }
    notes = {
        "latency_samples": len(lat),
        "samples_beyond_p60": sum(1 for v in lat if v > metrics["latency_p60_s"][0]),
        "failed_frac": sum(1 for r in raw["queries"] if not r["ok"]) / len(raw["queries"]),
        "wrong_results": sum(1 for v, _ in checks.values() if "wrong" in v),
    }
    return metrics, notes


# Per-layer metrics of the traced run: name -> unit. Every value is the
# median over measured passes of the pass total, except the cold_* metrics
# (the cold pass). trace.tracer_s is the tracer's own time on the query
# thread and trace.overhead_frac its share of the pass; trace.queries_per_s,
# computed as the untraced run's queries_per_s, compares with it.
PER_LAYER = {
    "operators.build_s": "s", "operators.build_self_s": "s", "operators.build_jobs": "count",
    "operators.spools_at_end": "count", "operators.spool_mb_at_end": "MB",
    "rules.plan_s": "s", "rules.phase_s": "s", "rules.actions": "count",
    "rules.graft_rule_s": "s", "rules.graft_rule_effective": "count",
    "codegen.compile_s": "s", "codegen.compiles": "count",
    "codegen.cold_compile_s": "s", "codegen.cold_compiles": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.failed_tasks": "count", "scheduler.job_s": "s", "scheduler.outside_jobs_s": "s",
    "scheduler.task_overhead_s": "s",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.core_busy_frac": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB",
    "sources.read_mb": "MB", "sources.read_rows": "count", "sources.write_mb": "MB",
    "sources.write_rows": "count",
    "trace.tracer_s": "s", "trace.overhead_frac": "ratio", "trace.queries_per_s": "1/s",
}


def per_layer(raw):
    measured = [p for p in raw["passes"] if p["phase"] == "measured"]
    by_pass = {}
    for r in raw["queries"]:
        by_pass.setdefault(r["pass"], []).append(r)

    def pass_totals(n):
        tot = {}
        for r in by_pass[n]:
            for k, v in r["layers"].items():
                tot[k] = tot.get(k, 0) + v
        job_s = tot["scheduler.job_s"]
        tot["exec.core_busy_frac"] = tot["exec.task_run_s"] / (job_s * raw["env"]["cores"]) if job_s else 0.0
        return tot

    totals = [pass_totals(p["pass"]) for p in measured]
    for t, p in zip(totals, measured):
        t["trace.overhead_frac"] = t["trace.tracer_s"] / p["wall_s"]
    cold = pass_totals(0)
    values = {k: statistics.median(t[k] for t in totals) for k in totals[0]}
    values["trace.queries_per_s"] = sum(p["queries"] for p in measured) / sum(p["wall_s"] for p in measured)
    values["codegen.cold_compile_s"] = cold["codegen.compile_s"]
    values["codegen.cold_compiles"] = cold["codegen.compiles"]
    return {k: (values[k], unit) for k, unit in PER_LAYER.items()}


def bench_confs():
    """The literal .config(k, v) pairs of graft.Bench's session."""
    with open(os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala")) as f:
        src = f.read()
    return dict(re.findall(r'\.config\("([^"]+)",\s*"([^"]*)"\)', src))


def root_heap():
    """The heap of the root build's forked runs (-Xmx in its javaOptions)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'-Xmx\$\{sys\.env\.getOrElse\("SPARK_DRIVER_MEM", "([^"]+)"\)\}', f.read())
    return os.environ.get("SPARK_DRIVER_MEM", m.group(1) if m else None)


def parity(raw):
    """Session confs that differ from graft.Bench's literal ones, and the
    JVM heap if it differs from the root build's."""
    confs = dict(raw["env"]["session_confs"], heap=JVM_HEAP)
    return {k: {"bench": v, "perfbench": confs.get(k)}
            for k, v in dict(bench_confs(), heap=root_heap()).items() if confs.get(k) != v}


def main():
    from workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    for need in [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "scripts", "check.py"),
                 os.path.join(ROOT, "TESTDATA.md")]:
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} is missing: run from a full checkout of the repository")
    sf = sf_dir()
    if not os.path.isdir(sf):
        fail(f"test data {sf} is missing (set PERFBENCH_SF_DIR)")
    with open(os.path.join(HERE, "oracle_digests.json")) as f:
        oracle = json.load(f)
    if oracle["sf"] != os.path.basename(sf):
        fail(f"the oracle digests are for {oracle['sf']}, the data is {sf}")
    classpath = build()

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    # No artifact of an earlier run with the same arguments may outlive a
    # failed run.
    os.makedirs(RESULTS, exist_ok=True)
    for f in os.listdir(RESULTS):
        if f.startswith(tag + "."):
            os.remove(os.path.join(RESULTS, f))
    steal0 = cpu_steal()
    raw, checks = execute(classpath, tag, args.workload, wl["queries"], sf, args.seed,
                          measured_passes(args.seconds), args.trace, wl["known_wrong"], oracle["queries"])
    steal1 = cpu_steal()
    e2e, notes = end_to_end(raw, checks)
    latencies = {}
    for r in raw["queries"]:
        latencies.setdefault(r["query"], []).append(round(r["latency_s"], 4))
    metrics = per_layer(raw) if args.trace else e2e
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "queries": len(wl["queries"]), "passes": len(raw["passes"]), **notes,
        "not_ok": {k: v for k, (v, _) in checks.items() if v != "ok"},
        "hygiene_violations": raw["hygiene_violations"], "conf_parity_diff": parity(raw),
        "env": {k: v for k, v in raw["env"].items() if k != "session_confs"},
        # a run slowed by a busy host shows here, not in the program
        "cpu_steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]) if steal0 and steal1 else None,
    }
    with open(os.path.join(RESULTS, f"{tag}.json"), "w") as f:
        json.dump({"summary": summary, "metrics": metrics, "passes": raw["passes"],
                   "heap_readings_mb": raw["heap_readings_mb"],
                   "session_confs": raw["env"]["session_confs"],
                   "result_digests": {k: d for k, (_, d) in checks.items()},
                   "latency_s": latencies}, f, indent=1)
    if args.trace:
        with open(os.path.join(RESULTS, f"{tag}.ledger.jsonl"), "w") as f:
            for r in raw["queries"]:
                f.write(json.dumps(r) + "\n")
        with open(os.path.join(RESULTS, f"{tag}.spans.jsonl"), "w") as f:
            for s in raw["spans"]:
                f.write(json.dumps(s) + "\n")

    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(f"failed_frac = {notes['failed_frac']:.6g} ratio")
    print(f"wrong_results = {notes['wrong_results']} count")
    print(json.dumps(summary, sort_keys=True))
    # A known mismatch counts in wrong_results but keeps the run correct
    # while its output is unchanged; any other mismatch, a query that threw
    # or a hygiene violation makes the run incorrect.
    correct = raw["hygiene_violations"] == 0 and all(r["ok"] for r in raw["queries"]) and not any(
        v.startswith("wrong") for v, _ in checks.values())
    print(json.dumps({"correct": correct, "attempted": len(raw["queries"]),
                      "failed": sum(1 for r in raw["queries"] if not r["ok"]),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
