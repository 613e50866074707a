#!/usr/bin/env python3
"""Record the expected output fingerprints of every workload query.

    python3 perfbench/record.py [--runs 3]

For each fixture tier this runs the harness check pass `--runs` times, each
in another query order, over the union of the queries of the workloads on
that tier. A query whose fingerprint repeats in every run is checked by
hash; one whose row count repeats but content does not, by row count; any
other only for completing. The first run also dumps every output as
parquet, and each is compared with DuckDB running `SparkEntry.oracleSql`
over the same fixture files, with the canonicalisation of `tools/check.py`
(same column set, row count, rows equal after sorting, floats to rtol
1e-9). The verdict is stored beside the fingerprint; a mismatch is listed,
never masked. Writes `perfbench/fingerprints.json` and prints a summary.
Run it on the engine version whose outputs are taken as correct.
"""
import argparse
import glob
import json
import os
import shutil
import sys
import time

import duckdb
import pandas as pd

import run as bench

sys.path.insert(0, os.path.join(bench.ROOT, "tools"))
import check as oracle_check  # noqa: E402


def harness_checks(cp, tier, fx, queries, seed, dump=None):
    run_dir = os.path.join(bench.STATE, "record", f"{tier}-seed{seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "harness.json")
    args = ["--sf", fx, "--queries", ",".join(queries), "--seed", str(seed),
            "--seconds", "0", "--min-passes", "0", "--min-samples", "0", "--trace", "0",
            "--control", bench.CONTROL_QUERY, "--out", out]
    if dump:
        args += ["--dump", dump]
    cmd, _ = bench.harness_cmd(cp, run_dir, tmp, False, args)
    bench.run_harness(cmd, run_dir, time.time() + 1800)
    with open(out) as f:
        return {c["query"]: c for c in json.load(f)["checks"]}


def oracle_verdicts(fx, dump, queries, oracle_sql):
    con = duckdb.connect()
    for t in oracle_check.TABLES:
        p = os.path.join(fx, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    verdicts = {}
    for q in queries:
        files = sorted(glob.glob(os.path.join(dump, q, "*.parquet")))
        if q not in oracle_sql:
            verdicts[q] = ("none", None)
            continue
        if not files:
            verdicts[q] = ("fail: no output", None)
            continue
        got = pd.concat([pd.read_parquet(p) for p in files], ignore_index=True)
        try:
            exp = con.sql(oracle_sql[q]).df()
        except Exception as e:  # the oracle SQL itself failed
            verdicts[q] = (f"fail: oracle SQL error: {e}", None)
            continue
        errs = oracle_check.compare(q, got, exp)
        verdicts[q] = ("pass" if not errs else "fail: " + "; ".join(errs), len(exp))
    return verdicts


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=3)
    a = ap.parse_args()
    cp, _ = bench.build()
    wls = bench.load_json("workloads.json")
    result, problems = {}, []
    for tier in wls["tiers"]:
        queries = sorted({q for w in wls["workloads"].values() if w["tier"] == tier
                          for q in w["queries"]} | {bench.CONTROL_QUERY})
        base = os.path.join(bench.STATE, "record", tier)
        shutil.rmtree(base, ignore_errors=True)
        fx, dump = bench.fixture_dir(tier), os.path.join(base, "dump")
        runs = [harness_checks(cp, tier, fx, queries, seed, dump if seed == 1 else None)
                for seed in range(1, a.runs + 1)]
        with open(os.path.join(dump, "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        verdicts = oracle_verdicts(fx, dump, queries, oracle_sql)
        result[tier] = {}
        for q in queries:
            cs = [r[q] for r in runs]
            if not all(c["ok"] for c in cs):
                err = next(c["error"] for c in cs if not c["ok"])
                problems.append(f"{tier}/{q}: failed: {err['class']}: {err['message']}")
                continue
            fps = {c["fingerprint"] for c in cs}
            rows = {fp.split(":")[0] for fp in fps}
            check = "hash" if len(fps) == 1 else "rows" if len(rows) == 1 else "completes"
            verdict, oracle_rows = verdicts[q]
            if oracle_rows is not None and str(oracle_rows) not in rows:
                verdict += f"; oracle rows {oracle_rows} != {sorted(rows)}"
            if verdict != "pass" and verdict != "none":
                problems.append(f"{tier}/{q}: oracle {verdict}")
            result[tier][q] = {"fingerprint": cs[0]["fingerprint"], "check": check,
                               "oracle": verdict}
    with open(os.path.join(bench.HERE, "fingerprints.json"), "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")
    for tier, qs in result.items():
        kinds = {k: sum(v["check"] == k for v in qs.values()) for k in ("hash", "rows", "completes")}
        oracle = {k: sum(v["oracle"].split(":")[0] == k for v in qs.values())
                  for k in ("pass", "none", "fail")}
        print(f"{tier}: {len(qs)} queries; checks {kinds}; oracle {oracle}")
    for p in problems:
        print(f"PROBLEM {p}")


if __name__ == "__main__":
    main()
