#!/usr/bin/env python3
"""Derive perfbench/expected/query_sweep.json, the query_sweep fixture.

    python3 perfbench/tools/derive_expected.py

Generates the sweep's fixed dataset, runs every sweep query twice (the two
hashes must agree), dumps each result the way the engine's correctness dump
does, and compares the dumps against the DuckDB oracle with
tools/check_oracle.py. Each query's entry records its hash and the oracle
verdict: "pass", "no_sql" (the query has no oracle SQL) or "fail". Run it
from a full checkout: it needs tools/check_oracle.py and duckdb.
"""
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    import duckdb
    run.build()
    out = os.path.join(HERE, "fixture-work")
    work = os.path.join(out, "jvm")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    subprocess.run(run.java_cmd(work) + ["--derive", out], cwd=run.ROOT, check=True,
                   stderr=open(os.path.join(out, "derive.log"), "wb"))
    derived = json.load(open(os.path.join(out, "hashes.json")))
    hashes = derived["queries"]
    sql = json.load(open(os.path.join(out, "results", "oracle_sql.json")))
    p = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
                        os.path.join(out, "results"), os.path.join(out, "data")],
                       cwd=run.ROOT, stdout=subprocess.PIPE, text=True)
    verdict = {}
    for line in p.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):? (.*)", line)
        if m:
            verdict[m.group(2)] = (m.group(1).lower(), m.group(3))
    queries = {}
    for q, h in sorted(hashes.items()):
        if not h["stable"]:
            print(f"UNSTABLE {q}: {h}", file=sys.stderr)
            continue
        if q not in sql:
            queries[q] = {"hash": h["hash"], "oracle": "no_sql"}
        else:
            v, note = verdict.get(q, ("fail", "no oracle verdict"))
            queries[q] = {"hash": h["hash"], "oracle": v} if v == "pass" else \
                {"hash": h["hash"], "oracle": "fail", "note": note[:300]}
    doc = {
        "about": "Expected result hashes for the query_sweep workload: row count and bit_xor of "
                 "per-row xxhash64 over every column (perfbench.ResultHash). 'oracle' is the DuckDB "
                 "verdict from tools/check_oracle.py on the same data: pass, no_sql (no oracle SQL), "
                 "or fail. Regenerate with perfbench/tools/derive_expected.py.",
        "data_seed": derived["data_seed"], "scale": derived["scale"], "duckdb": duckdb.__version__,
        "queries": queries,
    }
    with open(os.path.join(HERE, "expected", "query_sweep.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    for q, e in queries.items():
        if e["oracle"] != "pass":
            print(f"{e['oracle'].upper()} {q} {e.get('note', '')}")
    print(f"{sum(e['oracle'] == 'pass' for e in queries.values())}/{len(hashes)} oracle-checked")


if __name__ == "__main__":
    main()
