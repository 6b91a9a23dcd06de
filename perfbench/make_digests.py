#!/usr/bin/env python3
"""Regenerate perfbench/oracle_digests.json: the expected result of every
query of the four workload families (families.py) at sf0.1, computed by DuckDB from the query's oracleSql and
canonicalized exactly as scripts/check.py canonicalizes (by importing it).

Usage (from the repository root):
    python3 perfbench/make_digests.py

Run it when a family gains a query or an oracle changes. A query whose
oracle cannot run within the limits below is recorded as unchecked, with
the reason.
"""
import json
import os
import shutil
import subprocess
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
from families import family  # noqa: E402

OUT = os.path.join(run.HERE, "oracle_digests.json")
SF_DIR = run.sf_dir()
TIMEOUT_S = 600
TEMP_LIMIT = "4GB"


def oracle_sql():
    """Every SparkEntry key with its oracle SQL (None where it has none)."""
    classpath = run.build()
    path = os.path.join(run.RUNS, "oracle_sql.json")
    os.makedirs(run.RUNS, exist_ok=True)
    subprocess.run(["java", "-cp", classpath, "perfbench.Runner", "--dump-oracle", path], check=True)
    with open(path) as f:
        return json.load(f)


def main():
    sys.path.insert(0, os.path.join(run.ROOT, "scripts"))
    import check
    import duckdb
    sqls = oracle_sql()
    names = sorted(q for q in sqls if family(q))
    tmp = os.path.join(run.RUNS, "duckdb_tmp")
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute(f"SET max_temp_directory_size = '{TEMP_LIMIT}'")
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    out = {}
    for name in names:
        sql = sqls.get(name)
        if sql is None:
            out[name] = {"unchecked": "the query has no oracleSql"}
            continue
        timer = threading.Timer(TIMEOUT_S, con.interrupt)
        timer.start()
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            cols, rows = check.frame(cur.fetchall(), cols)
            out[name] = {"digest": run.digest(cols, rows), "rows": len(rows)}
        except Exception as e:
            out[name] = {"unchecked": f"the DuckDB oracle failed at sf0.1 "
                                      f"(threads=4, memory_limit=2GB, temp limit {TEMP_LIMIT}, "
                                      f"{TIMEOUT_S} s): {str(e).splitlines()[0][:300]}"}
        finally:
            timer.cancel()
            shutil.rmtree(tmp, ignore_errors=True)
        print(name, json.dumps(out[name]), flush=True)
    with open(OUT, "w") as f:
        json.dump({"sf": os.path.basename(SF_DIR), "duckdb": duckdb.__version__,
                   "canonicalization": "scripts/check.py frame(); sha256 of json [cols, rows]",
                   "queries": out}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
