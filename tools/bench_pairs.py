#!/usr/bin/env python3
"""Run alternating parent/change pairs of one benchmark workload.

    python3 tools/bench_pairs.py --parent DIR --change DIR \\
        --workload table_io_sf001 --seeds 21-30 [--seconds 15] [--trace 0] \\
        [--out pairs.json]

DIR is the root of a source checkout. Each checkout runs through its own
`perfbench/run.py` (`build`, `run_workload`), so both sides use their own
benchmark code and build; only the harness command differs. The harness
gets no mount namespace and the shared `/tmp/graft_*` roots are not wiped:
every root a workload query writes is tagged with its checkout's fixture
path, and the queries clear their own roots. Each run gets a private
`java.io.tmpdir` and `spark.local.dir` in its run directory.

Pair i runs both sides with seed i; the side that goes first alternates.
For each end-to-end metric of BENCHMARK.json (each per-layer metric with
`--trace 1`) the summary gives both medians, the parent's interquartile
range, the pairs the change won (ties count for neither) and the relative
change against the metric's bound. A gain holds when the change wins at
least nine tenths of the pairs and the medians differ by more than the
parent's interquartile range.
"""
import argparse
import contextlib
import importlib.util
import json
import os
import statistics
import sys


def load_run_module(checkout, tag):
    """Import `<checkout>/perfbench/run.py` with its harness command
    rewritten to run in place: no mount, no wipe, a private tmp dir."""
    here = os.path.join(checkout, "perfbench")
    sys.modules.pop("metrics", None)  # run.py imports its own sibling
    spec = importlib.util.spec_from_file_location(f"perfbench_run_{tag}",
                                                  os.path.join(here, "run.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    stock = mod.harness_cmd
    # the stock command as it would run in a private mount namespace ...
    mod.private_tmp_supported = lambda: True

    def harness_cmd(cp, run_dir, tmp, trace, args):
        # ... minus the `unshare ... sh -c 'mount --bind ...' tmp` prefix
        cmd, _ = stock(cp, run_dir, tmp, trace, args)
        java = cmd[cmd.index(tmp) + 1:]
        return (java[:1] + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"]
                + java[1:], "in-place")

    mod.harness_cmd = harness_cmd
    return mod


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_side(mod, build, workload, seed, seconds, trace):
    try:
        # each run's own metric lines go to stderr; stdout is the summary
        with contextlib.redirect_stdout(sys.stderr):
            return mod.run_workload(workload, seed, seconds, trace, *build)
    except SystemExit as e:  # run.py's fail(): the run has no metrics
        return {"failed_run": str(e.code)}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(pairs, specs):
    rows = []
    for m in specs:
        name, lower = m["name"], m["better"] == "lower"
        got = [(p["parent"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
               for p in pairs
               if name in p["parent"].get("metrics", {}) and name in p["change"].get("metrics", {})]
        if not got:
            continue
        par, chg = [a for a, _ in got], [b for _, b in got]
        q1, q3 = quartiles(par)
        mp, mc = statistics.median(par), statistics.median(chg)
        won = sum(1 for a, b in got if (b < a if lower else b > a))
        gap = (mp - mc) if lower else (mc - mp)
        rel = (mc - mp) / mp if mp else 0.0
        worse = -rel if not lower else rel
        bound = m.get("bound")
        rows.append({
            "metric": name, "unit": m["unit"], "pairs": len(got),
            "parent_median": mp, "change_median": mc,
            "parent_q1": q1, "parent_q3": q3, "parent_iqr": q3 - q1,
            "change_q1": quartiles(chg)[0], "change_q3": quartiles(chg)[1],
            "won": won, "rel_change": rel, "bound": bound,
            "gain": won >= 0.9 * len(got) and gap > q3 - q1,
            "beyond_bound": bound is not None and worse > bound,
        })
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 21-30 or 1,4,9")
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: the run_seconds of the change's BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None, help="write every run and the summary as JSON")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    sides = {}
    for side in ("parent", "change"):
        mod = load_run_module(os.path.abspath(getattr(a, side)), side)
        sides[side] = (mod, mod.build())

    pairs = []
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            mod, build = sides[side]
            res = run_side(mod, build, a.workload, seed, seconds, bool(a.trace))
            pair[side] = res
        shown = ("scheduler.outside_job_s", "sources.footer_meta_s") if a.trace \
            else ("query_p50_s", "pass_s")
        line = {k: tuple(pair[s].get("metrics", {}).get(k, {}).get("value")
                         for s in ("parent", "change")) for k in shown}
        print(f"[pairs] seed {seed} ({order[0]} first): "
              + "  ".join(f"{k} {p} -> {c}" for k, (p, c) in line.items()),
              file=sys.stderr, flush=True)
        pairs.append(pair)

    rows = summarize(pairs, bench["per_layer" if a.trace else "end_to_end"])
    print(f"{'metric':<26} {'pairs':>5} {'parent med':>11} {'IQR':>9} "
          f"{'change med':>11} {'won':>5} {'rel':>8} {'bound':>6}  verdict")
    for r in rows:
        verdict = "gain" if r["gain"] else ("WORSE beyond bound" if r["beyond_bound"] else "-")
        print(f"{r['metric']:<26} {r['pairs']:>5} {r['parent_median']:>11.4f} "
              f"{r['parent_iqr']:>9.4f} {r['change_median']:>11.4f} "
              f"{r['won']:>2}/{r['pairs']:<2} {r['rel_change']:>+8.1%} {str(r['bound'] or '-'):>6}  {verdict}")
    controls = {side: [t for p in pairs for t in
                       p[side].get("host", {}).get("control", {}).get("start_s", []) +
                       p[side].get("host", {}).get("control", {}).get("end_s", [])]
                for side in ("parent", "change")}
    for side, ts in controls.items():
        if ts:
            print(f"control query, {side}: median {statistics.median(ts):.4f} s over {len(ts)} calls")
    failed = [(p["seed"], s) for p in pairs for s in ("parent", "change")
              if "failed_run" in p[s] or not p[s].get("correct", False)]
    if failed:
        print(f"runs failed or wrong: {failed}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seconds": seconds, "pairs": pairs,
                       "summary": rows, "control": controls}, f, indent=1)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
