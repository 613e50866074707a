#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the engine and
the harness with sbt (`perfbench/build.sbt`); later runs reuse the build
while the sources are unchanged. Each run then

  1. checks the workload's fixture tables (`perfbench/fixtures/<tier>`)
     against their recorded SHA-256 sums,
  2. starts one JVM (`graft.perfbench.Harness`) with its own /tmp, which
     runs a check pass that fingerprints every output and then timed passes
     in the order the seed fixes, for `--seconds`,
  3. compares every fingerprint with `perfbench/fingerprints.json`,
  4. prints the metrics by name, unit and sample count, and as its last
     line one JSON object: {"correct", "attempted", "failed", "metrics"}.

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones (every second pass traced). `--workload all` runs every
workload in turn. Everything a run writes stays under `.perfbench/` in the
checkout: the build record, and per run the logs, the harness record, the spans and `result.json` with the host record.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import metrics  # noqa: E402

RUN_LIMIT_S = 170          # a run must end within 180 s
BUILD_LIMIT_S = 840        # the first run of a checkout may take 900 s
CONTROL_QUERY = "tpch_q6"  # timed three times at start and end of a run
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
BUILD_INPUTS = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def source_digest():
    """Digest of every file the build reads, so a stale build is redone."""
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        base = os.path.join(ROOT, rel)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, sub, files in os.walk(base)
            for f in files if "target" not in os.path.relpath(d, ROOT).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine and harness with sbt; return the runtime classpath."""
    for rel in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail(f"{rel} not found: run from the root of a source checkout")
    digest = source_digest()
    rec_path = os.path.join(STATE, "build.json")
    if os.path.exists(rec_path):
        with open(rec_path) as f:
            rec = json.load(f)
        if rec.get("digest") == digest:
            return rec["classpath"], digest
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building engine and harness with sbt (first run of this checkout)")
    t0 = time.time()
    with open(os.path.join(STATE, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if "scala-2.13" in ln and ":" in ln]
    if p.returncode != 0 or not lines:
        fail(f"sbt build failed (exit {p.returncode}); see .perfbench/build.log")
    cp = lines[-1].strip()
    with open(rec_path, "w") as f:
        json.dump({"digest": digest, "classpath": cp, "build_s": time.time() - t0}, f)
    return cp, digest


# ---------------------------------------------------------------- run

def fixture_dir(tier):
    """The tier's checked-in fixture directory, after checking every table
    against its recorded SHA-256 sum."""
    fx = os.path.join(HERE, "fixtures", tier)
    try:
        with open(os.path.join(fx, "SHA256SUMS")) as f:
            sums = [ln.split() for ln in f if ln.strip()]
        for digest, name in sums:
            with open(os.path.join(fx, name), "rb") as t:
                if hashlib.sha256(t.read()).hexdigest() != digest:
                    fail(f"fixture {tier}/{name} does not match its recorded SHA-256 sum")
    except OSError as e:
        fail(f"fixtures of tier {tier} unreadable: {e}")
    return fx


def private_tmp_supported():
    try:
        return subprocess.run(["unshare", "-m", "--propagation", "private", "true"],
                              stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                              timeout=10).returncode == 0
    except (OSError, subprocess.SubprocessError):
        return False


def harness_cmd(cp, run_dir, tmp, trace, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{JVM_HEAP}",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dderby.system.home={run_dir}",
           f"-Dgraft.commit.timings={'true' if trace else 'false'}",
           "-cp", cp, "graft.perfbench.Harness", *args]
    if private_tmp_supported():
        # the engine writes fixed /tmp/graft_* roots (snapshot warehouse,
        # snapshot fixtures, Derby metastore); give the JVM a private /tmp
        # inside the run directory so each run starts from an empty one
        return ["unshare", "-m", "--propagation", "private", "sh", "-c",
                'mount --bind "$0" /tmp && exec "$@"', tmp, *cmd], "private"
    log("warning: no mount namespace; wiping the shared /tmp/graft_* roots")
    for d in os.listdir("/tmp"):
        if d.startswith("graft_"):
            shutil.rmtree(os.path.join("/tmp", d), ignore_errors=True)
    return cmd[:1] + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"] + cmd[1:], "shared"


def run_harness(cmd, run_dir, deadline):
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    with open(os.path.join(run_dir, "harness.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            fail("harness exceeded the run time limit; see harness.log in the run directory")
    if code != 0:
        fail(f"harness exited {code}; see {os.path.relpath(run_dir, ROOT)}/harness.log")


def check_outputs(rec, expected):
    """Fingerprint mismatches of the check pass, as readable lines."""
    bad = []
    for c in rec["checks"]:
        if not c["ok"]:
            continue  # counted as a failure already
        exp = expected.get(c["query"])
        got = c["fingerprint"]
        if exp is None:
            bad.append(f"{c['query']}: no recorded fingerprint (got {got})")
        elif exp["check"] == "hash" and got != exp["fingerprint"]:
            bad.append(f"{c['query']}: fingerprint {got} != recorded {exp['fingerprint']}")
        elif exp["check"] == "rows" and got.split(":")[0] != exp["fingerprint"].split(":")[0]:
            bad.append(f"{c['query']}: rows {got.split(':')[0]} != recorded "
                       f"{exp['fingerprint'].split(':')[0]}")
    return bad


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_workload(name, seed, seconds, trace, cp, digest):
    wls = load_json("workloads.json")
    if name not in wls["workloads"]:
        fail(f"unknown workload {name!r}; choose from {', '.join(wls['workloads'])}")
    wl = wls["workloads"][name]
    run_dir = os.path.join(STATE, "runs", f"{name}-seed{seed}-trace{int(trace)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    load_start = os.getloadavg()

    setup_start = time.time()
    deadline = setup_start + RUN_LIMIT_S
    fx = fixture_dir(wl["tier"])

    out = os.path.join(run_dir, "harness.json")
    cmd, isolation = harness_cmd(cp, run_dir, tmp, trace, [
        "--sf", fx, "--queries", ",".join(wl["queries"]), "--seed", str(seed),
        "--seconds", str(seconds), "--trace", "1" if trace else "0",
        "--min-samples", str(metrics.min_samples(0.5)),
        "--control", CONTROL_QUERY, "--out", out])
    run_harness(cmd, run_dir, deadline)
    with open(out) as f:
        rec = json.load(f)
    shutil.rmtree(tmp, ignore_errors=True)

    mismatches = check_outputs(rec, load_json("fingerprints.json")[wl["tier"]])
    attempted, failed = metrics.attempts(rec, len(mismatches))
    errors = [{"query": c["query"], "pass": "check", **c["error"]}
              for c in rec["checks"] if not c["ok"]]
    errors += [{"query": s["query"], "pass": p["pass"], **s["error"]}
               for p in rec["passes"] for s in p["samples"] if not s["ok"]]
    # failures first, so they are reported even if a reduction below fails
    for line in mismatches + [f"{e['query']} ({e['pass']}): {e['class']}: {e['message']}"
                              for e in errors]:
        print(f"{name:>18}  WRONG {line}", flush=True)
    if trace:
        m = metrics.per_layer(rec)
        with open(os.path.join(run_dir, "spans.jsonl"), "w") as f:
            for s in metrics.spans(rec):
                f.write(json.dumps(s) + "\n")
        shown = {k: (v, u, None) for k, (v, u) in m.items()}
    else:
        shown = metrics.end_to_end(rec, setup_start * 1e3, len(mismatches))
    result = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
        "correct": not mismatches and failed == 0,
        "attempted": attempted, "failed": failed,
        "mismatches": mismatches, "errors": errors,
        "metrics": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in shown.items()},
        "host": {**rec["host"], "isolation": isolation,
                 "nproc": len(os.sched_getaffinity(0)),
                 "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
                 "git_commit": git_commit(), "source_digest": digest,
                 "control": rec["control"]},
        "passes": len(rec["passes"]),
        "queries": len(wl["queries"]),
    }
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(result, f, indent=1)

    for k, (v, u, n) in shown.items():
        print(f"{name:>18}  {k:<26} {v:>12.4f} {u:<6}" + (f" n={n}" if n else ""))
    if not trace and "query_p50_s" not in shown:
        print(f"{name:>18}  query_p50_s unavailable: too few completed queries")
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp, digest = build()
    names = list(load_json("workloads.json")["workloads"]) if a.workload == "all" \
        else [a.workload]
    results = [run_workload(n, a.seed, a.seconds, bool(a.trace), cp, digest) for n in names]
    # one workload: metrics by name; several: prefixed with the workload
    prefix = (lambda r: f"{r['workload']}.") if len(results) > 1 else (lambda r: "")
    line = {"correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": {prefix(r) + k: {"value": v["value"], "unit": v["unit"]}
                        for r in results for k, v in r["metrics"].items()}}
    print(json.dumps(line), flush=True)
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
