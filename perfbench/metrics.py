"""Reduction of one harness run record to the benchmark's metrics.

The JVM harness writes raw per-query samples (and, in traced passes, the
per-query jobs, Catalyst phases, task counters and commit phases). This
module turns them into the end-to-end metrics of an untraced run and the
per-layer metrics of a traced run, and into nested spans.
"""
import math
import statistics

MB = 1024.0 * 1024.0
MIN_BEYOND = 10  # a percentile is reported only with this many samples above it


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least a share p
    of all samples at or below it."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    return xs[max(math.ceil(p * len(xs)), 1) - 1]


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n samples."""
    return n - max(math.ceil(p * n), 1)


def min_samples(p, min_beyond=MIN_BEYOND):
    """Fewest samples for which the p-th percentile has `min_beyond` above it."""
    n = 1
    while beyond(n, p) < min_beyond:
        n += 1
    return n


def interval_union(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end] intervals, each
    clipped to [lo, hi] when given. Empty or inverted intervals count 0."""
    spans = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            spans.append((s, e))
    spans.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def core_util(run_s, wall_s, cores):
    """Executor busy share of the cores: task run time over wall x cores."""
    if wall_s <= 0 or cores <= 0:
        raise ValueError("wall time and cores must be positive")
    return run_s / (wall_s * cores)


def _pass_wall_s(p):
    return (p["end_ms"] - p["start_ms"]) / 1e3


def end_to_end(rec, setup_start_ms, mismatches=0):
    """End-to-end metrics of an untraced run, as (value, unit, samples).
    Failed queries are left out of the latency samples; `query_p50_s` is
    left out of the result when too few samples completed to report it."""
    passes = [p for p in rec["passes"] if not p["traced"]]
    ok = [(s["end_ms"] - s["start_ms"]) / 1e3
          for p in passes for s in p["samples"] if s["ok"]]
    walls = [_pass_wall_s(p) for p in passes]
    attempted, failed = attempts(rec, mismatches)
    m = {
        "setup_s": (float((rec["setup"]["first_timed_ms"] - setup_start_ms) / 1e3), "s", 1),
        "pass_s": (statistics.median(walls), "s", len(walls)),
        "ok_frac": (1.0 - failed / attempted, "ratio", attempted),
        "retained_heap_mb": (rec["retained_heap_mb"], "MB", 1),
    }
    if beyond(len(ok), 0.5) >= MIN_BEYOND:
        m["query_p50_s"] = (percentile(ok, 0.5), "s", len(ok))
    return m


def attempts(rec, mismatches=0):
    """(attempted, failed) over the check pass and every timed pass; a
    fingerprint mismatch counts as a failure of its check-pass attempt."""
    samples = [s for p in rec["passes"] for s in p["samples"]]
    attempted = len(rec["checks"]) + len(samples)
    failed = (sum(not c["ok"] for c in rec["checks"]) + mismatches
              + sum(not s["ok"] for s in samples))
    return attempted, failed


def _job_intervals(samples):
    return [(j["start_ms"], j["end_ms"] if j["end_ms"] is not None else s["end_ms"])
            for s in samples for j in s["jobs"]]


def per_layer(rec):
    """Per-layer metrics of a traced run. Sums are per traced pass (their
    mean over the traced passes); setup figures are per run."""
    traced = [p for p in rec["passes"] if p["traced"]]
    # the first pass still warms up, so it is the overhead baseline only
    # when no other untraced pass ran
    plain = [p for p in rec["passes"] if not p["traced"]]
    plain = plain[1:] or plain
    n = len(traced)
    samples = [s for p in traced for s in p["samples"]]
    wall = sum(_pass_wall_s(p) for p in traced) / n
    cores = rec["host"]["nproc"]

    def task(k):
        return sum(s["tasks"].get(k, 0.0) for s in samples) / n

    def phase(name):
        return sum(ph["end_ms"] - ph["start_ms"] for s in samples
                   for ph in s["phases"] if ph["phase"] == name) / 1e3 / n

    def commit(name):
        return sum(s["commit"].get(name, {}).get("s", 0.0) for s in samples) / n

    jobs = sum(len(s["jobs"]) for s in samples) / n
    stages, tasks = task("stages"), task("tasks")
    job_wall = sum(interval_union(_job_intervals(p["samples"]), p["start_ms"], p["end_ms"])
                   for p in traced) / 1e3 / n
    construct = sum(s["construct_end_ms"] - s["start_ms"] for s in samples) / 1e3 / n
    run_s = task("run_ms") / 1e3
    m = {
        "sessions.build_s": (rec["setup"]["session_build_s"], "s"),
        "setup.warm_pass_s": (rec["setup"]["check_pass_s"], "s"),
        "queries.construct_s": (construct, "s"),
        "queries.construct_share": (construct / wall, "ratio"),
        "catalyst.analysis_s": (phase("analysis"), "s"),
        "catalyst.optimization_s": (phase("optimization"), "s"),
        "catalyst.planning_s": (phase("planning"), "s"),
        "scheduler.jobs": (jobs, "count"),
        "scheduler.jobs_per_query": (jobs / (len(samples) / n), "count"),
        "scheduler.stages": (stages, "count"),
        "scheduler.tasks_per_stage": (tasks / stages if stages else 0.0, "count"),
        "scheduler.job_wall_s": (job_wall, "s"),
        "scheduler.outside_job_s": (wall - job_wall, "s"),
        "executor.run_s": (run_s, "s"),
        "executor.cpu_s": (task("cpu_ns") / 1e9, "s"),
        "executor.gc_s": (task("gc_ms") / 1e3, "s"),
        "executor.peak_mem_mb": (max((s["tasks"].get("peak_mem_bytes", 0.0) for s in samples),
                                     default=0.0) / MB, "MB"),
        "executor.core_util": (core_util(run_s, wall, cores), "ratio"),
        "shuffle.write_mb": (task("shuffle_write_bytes") / MB, "MB"),
        "shuffle.read_mb": (task("shuffle_read_bytes") / MB, "MB"),
        "shuffle.fetch_wait_s": (task("fetch_wait_ms") / 1e3, "s"),
        "shuffle.spill_disk_mb": (task("spill_disk_bytes") / MB, "MB"),
        "scan.input_mb": (task("input_bytes") / MB, "MB"),
        "scan.input_rows": (task("input_records"), "count"),
        "sources.commits": (sum(s["commit"].get("commitManifest", {}).get("calls", 0)
                                for s in samples) / n, "count"),
        "sources.data_write_s": (commit("dataWrite"), "s"),
        "sources.footer_meta_s": (commit("footerMeta"), "s"),
        "sources.bloom_sidecar_s": (commit("bloomSidecar"), "s"),
        "sources.ngram_sidecar_s": (commit("ngramSidecar"), "s"),
        "sources.commit_manifest_s": (commit("commitManifest"), "s"),
        "sources.maybe_maintain_s": (commit("maybeMaintain"), "s"),
        "trace.overhead": (statistics.median(_pass_wall_s(p) for p in traced)
                           / statistics.median(_pass_wall_s(p) for p in plain), "ratio"),
    }
    return m


def spans(rec):
    """Nested spans of every traced query: query > construct | execute >
    job, with the Catalyst phases of each QueryExecution under the span
    they ran in. Every span of a query carries the query's trace id."""
    out = []
    for p in rec["passes"]:
        if not p["traced"]:
            continue
        for s in p["samples"]:
            tid = f"p{p['pass']}-q{s['qid']}"
            children = {"construct": (s["start_ms"], s["construct_end_ms"]),
                        "execute": (s["construct_end_ms"], s["end_ms"])}

            def add(name, start, end, parent, **attrs):
                out.append({"trace_id": tid, "name": name, "start_ms": start,
                            "end_ms": end, "parent": parent, **attrs})

            def enclosing(t):
                return "construct" if t < s["construct_end_ms"] else "execute"

            add("query", s["start_ms"], s["end_ms"], None, query=s["query"], ok=s["ok"])
            for name, (a, b) in children.items():
                add(name, a, b, "query")
            for j in s["jobs"]:
                tag = (j["span"] or "").partition("/")[2] or enclosing(j["start_ms"])
                add(f"job {j['id']}", j["start_ms"], j["end_ms"], tag)
            for ph in s["phases"]:
                add(f"catalyst.{ph['phase']}", ph["start_ms"], ph["end_ms"],
                    enclosing(ph["start_ms"]), qe=ph["qe"])
    return out
