#!/usr/bin/env python3
"""Derive, or check, the stored expected results for the output check.

    python3 perfbench/make_expected.py           # rewrite expected/sf0.01.json
    python3 perfbench/make_expected.py --check   # compare, write nothing

Run from the repository root. Both run every runnable query of every
family once on the benchmark's copy of the sf0.01 testdata (a check
takes about 4 minutes, a derivation about 7). To derive: for each query with an oracle, the expected digest
comes from DuckDB running `SparkEntry.oracleSql` on the same data;
queries without an oracle are checked by row count and schema, taken
from the graft run. Queries where graft disagrees with DuckDB are
listed under "mismatch_at_head" and keep DuckDB's answer. To check:
graft's result for every stored query is compared with the stored one,
as a timed run compares it; mismatches are printed and the exit code is
1.
"""
import argparse
import json
import os
import sys

import canon
import metrics
import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def graft_results(classes, work):
    """Every runnable query of every family, once: name -> execution."""
    with open(run.WORKLOADS) as f:
        workloads = json.load(f)["workloads"]
    out = {}
    for w in workloads:
        res = run.jvm(classes, "digest", os.path.join(work, f"{w}.json"), workload=w)
        out.update({e["q"]: e for e in res["execs"]})
    return out


def compare(graft, expected):
    """Problems between graft's results and the stored ones: a list of
    strings, empty when every stored query matches and every run query
    has a stored result."""
    problems = [f"{f['q']}: {f['why']}" for f in metrics.check(list(graft.values()), expected)]
    problems += [f"{q}: stored but not run" for q in sorted(set(expected) - set(graft))]
    return sorted(problems)


def derive(classes, work, graft):
    import duckdb
    oracle = run.jvm(classes, "oracle", os.path.join(work, "oracle.json"))
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA}/{t}.parquet'")
    queries, mismatch = {}, {}
    for q in sorted(graft):
        e = graft[q]
        if "error" in e:
            mismatch[q] = "graft raised " + e["error"]
        if q in oracle:
            d, n = canon.duckdb_digest(con, oracle[q])
            queries[q] = {"digest": d, "rows": n}
            if e.get("digest") not in (None, d):
                mismatch[q] = f"digest differs (graft {e['rows']} rows, DuckDB {n})"
        elif "error" not in e:
            queries[q] = {"rows": e["rows"], "schema": e["schema"]}
    with open(run.EXPECTED, "w") as f:
        json.dump({"sf": os.path.basename(run.DATA), "queries": queries,
                   "mismatch_at_head": mismatch}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(queries)} queries ({sum('digest' in v for v in queries.values())} by digest), "
          f"{len(mismatch)} mismatching: {sorted(mismatch)}")
    return 0


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--check", action="store_true",
                    help="compare graft's results with the stored ones; write nothing")
    a = ap.parse_args(argv)
    classes = run.build()
    work = os.path.join(run.BUILD, "expected")
    os.makedirs(work, exist_ok=True)
    graft = graft_results(classes, work)
    if not a.check:
        return derive(classes, work, graft)
    with open(run.EXPECTED) as f:
        stored = json.load(f)
    problems = compare(graft, stored["queries"])
    known = stored["mismatch_at_head"]
    for p in problems:
        print(p)
    print(f"{len(graft)} queries run, {len(stored['queries'])} stored, "
          f"{len(problems)} problems; mismatching when derived: {sorted(known) or 'none'}")
    return 1 if problems else 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except run.BenchError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
