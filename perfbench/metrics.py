"""Metrics of one benchmark run, derived from the span file the JVM writes.

Every number the benchmark reports comes from these spans: the end-to-end
metrics from the benchmark's own run/setup/pass/query spans, the per-layer
metrics from the traced passes, where Spark's job, stage and micro-batch
spans hang under the query phase that caused them.
"""
import json
import math
import statistics

CPUS = 4
# The host probe's median (s) on the 4-vCPU host the benchmark was sized on,
# in a quiet stretch: end-to-end times are reported at this host speed.
PROBE_REF_S = 0.25


def load(path):
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def dur(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def covered(lo, hi, intervals):
    """Length (ns) of the part of [lo, hi] that the intervals cover."""
    total, end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans):
    """Self time of every span in seconds: its duration minus the part of
    its interval that its child spans cover. Children may overlap each
    other or stick out of their parent (Spark stamps events in ms); only
    the covered part of the parent's own interval is subtracted, so the
    result is never negative."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    return {s["id"]: (s["end_ns"] - s["start_ns"] -
                      covered(s["start_ns"], s["end_ns"], kids.get(s["id"], []))) / 1e9
            for s in spans}


def tail_rank(n):
    """Index (ascending) and percentile of the highest percentile that has
    at least ten samples beyond it; None when there are ten or fewer."""
    if n <= 10:
        return None
    return n - 11, 100.0 * (n - 10) / n


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _named(spans, name):
    return [s for s in spans if s["name"] == name]


def setup_rounds(spans):
    """Set-up round spans with their children by name."""
    out = []
    for s in _named(spans, "setup"):
        parts = {c["name"]: dur(c) for c in spans if c["parent"] == s["id"]}
        out.append((dur(s), parts))
    return out


def check(spans, expected):
    """(attempted, failures): every executed query — warm-up included —
    must succeed and match its expected digest."""
    failures = []
    qs = _named(spans, "query")
    for s in qs:
        a = s["attrs"]
        if not a.get("ok"):
            failures.append(f"{a['query']}: threw: {a.get('error')}")
        elif a.get("digest") != expected.get(a["query"]):
            failures.append(f"{a['query']}: digest {a.get('digest')} != "
                            f"expected {expected.get(a['query'])}")
    return len(qs), failures


def end_to_end(spans):
    """End-to-end metrics of the untraced timed passes. A query's *hot*
    latency is its fastest timed run (the hot run of ClickBench): a burst
    of host load has to cover every run of a query to move it. `total_s`
    and `geomean_s` are taken over hot latencies, `p50_s` over every
    timed run, and `tail_s` over the runs of the first `min_passes`
    passes, so that its percentile does not change with the pass count.

    Every time is calibrated to the reference host speed: multiplied by
    PROBE_REF_S over the median of the run's host probes, a fixed loop on
    four threads that runs after the engine has stopped. The machine's
    speed shifts for minutes at a time; the probe moves with it, while the
    program's own work cannot slow it. The raw times are in the returned
    info."""
    run = _named(spans, "run")[0]
    passes = sorted((s for s in _named(spans, "pass") if not s["attrs"]["traced"]),
                    key=lambda s: s["start_ns"])
    first = {s["id"] for s in passes[:run["attrs"]["min_passes"]]}
    pass_ids = {s["id"] for s in passes}
    qs = [s for s in _named(spans, "query") if s["parent"] in pass_ids]
    runs = {}
    for s in qs:
        runs.setdefault(s["attrs"]["query"], []).append(dur(s))
    hot = [min(v) for v in runs.values()]
    lat = sorted(dur(s) for s in qs)
    early = sorted(dur(s) for s in qs if s["parent"] in first)
    rank = tail_rank(len(early))
    setup = statistics.median(d for d, _ in setup_rounds(spans))
    warmup = sum(dur(s) for s in _named(spans, "warmup"))
    raw = {
        "setup_s": setup + warmup,
        "total_s": sum(hot),
        "geomean_s": geomean(hot),
        "p50_s": statistics.median(lat),
        "tail_s": early[rank[0]] if rank else early[-1],
    }
    probe = statistics.median(run["attrs"]["probe_s"])
    metrics = {k: (v * PROBE_REF_S / probe, "s") for k, v in raw.items()}
    metrics["peak_rss_mb"] = (run["attrs"]["peak_rss_mb"], "MiB")
    info = {"samples": len(lat), "tail_samples": len(early),
            "tail_percentile": rank[1] if rank else 100.0, "passes": len(passes),
            "host_probe_s": probe, "raw_s": raw}
    return metrics, info


def per_layer(spans):
    """Per-layer metrics of the traced passes, as averages per pass."""
    selfs = self_times(spans)
    run = _named(spans, "run")[0]
    traced = [s for s in _named(spans, "pass") if s["attrs"]["traced"]]
    untraced = [s for s in _named(spans, "pass") if not s["attrs"]["traced"]]
    k = len(traced)
    tids = {s["id"] for s in traced}
    qs = [s for s in _named(spans, "query") if s["parent"] in tids]
    qids = {s["id"] for s in qs}
    phases = [s for s in spans if s["parent"] in qids]
    builds = [s for s in phases if s["name"] == "build"]
    build_ids = {s["id"] for s in builds}
    jobs = [s for s in _named(spans, "job") if s["trace"] in qids]
    eager = [s for s in jobs if s["parent"] in build_ids]
    job_ids = {s["id"] for s in jobs}
    stages = [s for s in _named(spans, "stage") if s["parent"] in job_ids]
    batches = [s for s in _named(spans, "batch") if s["trace"] in qids]

    def per_pass(xs):
        return sum(xs) / k

    def st(key):
        return per_pass(s["attrs"][key] for s in stages)

    def ph(name):
        return [s for s in phases if s["name"] == name]

    rounds = setup_rounds(spans)
    plan_self = sum(selfs[s["id"]] for s in builds + ph("optimize"))
    query_wall = sum(dur(s) for s in qs)
    skews = [s["attrs"]["max_task_s"] / s["attrs"]["median_task_s"]
             for s in stages
             if s["attrs"]["tasks"] >= 2 and s["attrs"]["median_task_s"] > 0]
    state_max = {}
    for b in batches:
        t = b["trace"]
        rows, size = state_max.get(t, (0, 0))
        state_max[t] = (max(rows, b["attrs"]["state_rows"]),
                        max(size, b["attrs"]["state_bytes"]))
    trigger = sum(b["attrs"]["trigger_s"] for b in batches)

    m = {
        "core.session_s": (statistics.median(p.get("session", 0.0) for _, p in rounds), "s"),
        "core.catalog_s": (statistics.median(p.get("catalog", 0.0) for _, p in rounds), "s"),
        "core.views_s": (statistics.median(p.get("views", 0.0) for _, p in rounds), "s"),
        "core.warmup_s": (sum(dur(s) for s in _named(spans, "warmup")), "s"),
        "plans.build_s": (per_pass(selfs[s["id"]] for s in builds), "s"),
        "plans.optimize_s": (per_pass(selfs[s["id"]] for s in ph("optimize")), "s"),
        "plans.share": (plan_self / query_wall if query_wall else 0.0, "ratio"),
        "plans.eager_jobs": (len(eager) / k, "count"),
        "plans.eager_s": (per_pass(dur(s) - selfs[s["id"]] for s in builds), "s"),
        "operators.exec_s": (per_pass(dur(s) for s in ph("execute")), "s"),
        "operators.jobs": (len(jobs) / k, "count"),
        "operators.stages": (len(stages) / k, "count"),
        "operators.tasks": (st("tasks"), "count"),
        "operators.task_run_s": (st("task_run_s"), "s"),
        "operators.task_cpu_s": (st("task_cpu_s"), "s"),
        "operators.task_gc_s": (st("task_gc_s"), "s"),
        "operators.failed_tasks": (st("failed_tasks"), "count"),
        "operators.slot_busy": (sum(s["attrs"]["task_s"] for s in stages) /
                                (sum(dur(s) for s in traced) * CPUS), "ratio"),
        "operators.task_wait_s": (st("task_wait_s"), "s"),
        "operators.stage_skew": (statistics.mean(skews) if skews else 1.0, "ratio"),
        "operators.shuffle_write_bytes": (st("shuffle_write_bytes"), "B"),
        "operators.shuffle_read_bytes": (st("shuffle_read_bytes"), "B"),
        "operators.shuffle_fetch_wait_s": (st("shuffle_fetch_wait_s"), "s"),
        "operators.spill_bytes": (st("spill_bytes"), "B"),
        "operators.scan_bytes": (st("scan_bytes"), "B"),
        "operators.scan_rows": (st("scan_rows"), "count"),
    }
    for key in ("bhj", "smj", "exchanges", "reused_exchanges"):
        m[f"operators.{key}"] = (per_pass(s["attrs"].get(key, 0) for s in qs), "count")
    for name in ("shingle_hash_set", "minhash_sig96", "minhash_bands96",
                 "sorted_intersect_size", "top_word_run"):
        reps = [dur(s) for s in spans if s["layer"] == "functions" and s["name"] == name]
        m[f"functions.{name}_s"] = (statistics.median(reps), "s")
    m.update({
        "streaming.batches": (len(batches) / k, "count"),
        "streaming.empty_batch_share": (
            sum(1 for b in batches if b["attrs"]["input_rows"] == 0) / len(batches)
            if batches else 0.0, "ratio"),
        "streaming.trigger_s": (trigger / k, "s"),
        "streaming.add_batch_s": (per_pass(b["attrs"]["add_batch_s"] for b in batches), "s"),
        "streaming.plan_s": (per_pass(b["attrs"]["plan_s"] for b in batches), "s"),
        "streaming.wal_s": (per_pass(b["attrs"]["wal_s"] for b in batches), "s"),
        "streaming.rows_per_s": (
            sum(b["attrs"]["input_rows"] for b in batches) / trigger if trigger else 0.0,
            "1/s"),
        "streaming.state_commit_s": (per_pass(b["attrs"]["state_commit_s"] for b in batches), "s"),
        "streaming.state_update_s": (per_pass(b["attrs"]["state_update_s"] for b in batches), "s"),
        "streaming.state_rows": (per_pass(r for r, _ in state_max.values()), "count"),
        "streaming.state_bytes": (per_pass(b for _, b in state_max.values()), "B"),
        "jvm.gc_s": (per_pass(s["attrs"]["gc_s"] for s in traced), "s"),
        "jvm.jit_s": (per_pass(s["attrs"]["jit_s"] for s in traced), "s"),
        "jvm.heap_peak_mb": (run["attrs"]["heap_peak_mb"], "MiB"),
        "trace.overhead": (statistics.median(dur(s) for s in traced) /
                           statistics.median(dur(s) for s in untraced) - 1.0, "ratio"),
    })
    return m
