#!/usr/bin/env python3
"""Alternating parent/change runs of the repository's benchmark, and the
comparison of their end-to-end metrics against the BENCHMARK.json bounds.

    python3 scripts/perf_pairs.py PARENT CHANGE --workload tpcds_power \\
        --seeds 1-10 --out pairs.jsonl
    python3 scripts/perf_pairs.py --report pairs.jsonl

PARENT and CHANGE are two checkouts of the repository. For each seed the
script runs `perfbench/run.py --trace 0` once in each, for the
BENCHMARK.json `run_seconds`, alternating which side goes first from one
pair to the next, so that a drift of the host over the session falls on
both sides alike. Each run's result line, its provenance line, the
per-query hot latencies (fastest timed run) and the set-up phases (per
round the session, catalog and views spans, the warm-up pass and the
first timed pass's JIT time), all calibrated like the end-to-end times,
are appended to --out as one JSON record; --report prints the comparison
of an existing file again, so an interrupted session loses no run.

Per end-to-end metric the report gives the median of each side, the
change in %, the number of pairs the change won, the spread between the
quartiles of the parent's runs, the bound and a verdict:

  improved    the median moved the right way by more than the bound and by
              more than the parent's interquartile spread, and the change
              won at least nine pairs in ten;
  worse       the median moved the wrong way by more than the bound;
  unresolved  anything else: a move inside the bound is not a win.

Under that table come the medians of each side's set-up phases and
per-query hot latencies, so a set-up change names the phase that moved
without a traced run.

Any run whose result is not `correct` is flagged, and the exit status is
then 1.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seed_list(text):
    """'1-10' or '1,3,5' or a mix."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def read_spans(checkout, provenance):
    spans_file = Path(checkout) / provenance["spans"]
    return [json.loads(l) for l in spans_file.read_text().splitlines() if l.strip()]


def dur(span):
    return (span["end_ns"] - span["start_ns"]) / 1e9


def hot_latencies(checkout, provenance, scale):
    """Per-query fastest timed run from the run's span file, multiplied by
    the run's calibration factor `scale`."""
    spans = read_spans(checkout, provenance)
    untraced = {s["id"] for s in spans
                if s["name"] == "pass" and not s["attrs"]["traced"]}
    best = {}
    for s in spans:
        if s["name"] == "query" and s["parent"] in untraced:
            d = dur(s)
            q = s["attrs"]["query"]
            best[q] = min(best.get(q, d), d)
    return {q: round(v * scale, 4) for q, v in sorted(best.items())}


def phases(checkout, provenance, scale):
    """Set-up phases of a run from its span file, multiplied by the run's
    calibration factor `scale`: per round `r<n>.session_s`,
    `r<n>.catalog_s` and `r<n>.views_s`, the warm-up pass as `warmup_s`
    and the JIT compile time of the first timed pass as `pass1.jit_s`."""
    spans = read_spans(checkout, provenance)
    rounds = {s["id"]: s["attrs"]["round"] for s in spans if s["name"] == "setup"}
    out = {}
    for s in spans:
        if s["parent"] in rounds and s["name"] in ("session", "catalog", "views"):
            out[f"r{rounds[s['parent']]}.{s['name']}_s"] = dur(s)
        elif s["name"] == "warmup":
            out["warmup_s"] = dur(s)
        elif s["name"] == "pass" and s["attrs"]["pass"] == 1:
            out["pass1.jit_s"] = s["attrs"]["jit_s"]
    return {k: round(v * scale, 4) for k, v in sorted(out.items())}


def run_once(checkout, side, workload, seed, seconds):
    """One benchmark run in `checkout`; its record, also when it failed."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    rec = {"side": side, "workload": workload, "seed": seed,
           "exit": proc.returncode}
    prov = next((l for l in lines if l.startswith("provenance ")), None)
    try:
        rec["result"] = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        rec["result"] = {"correct": False, "metrics": {}}
    if proc.returncode:
        rec["stderr"] = proc.stderr.strip().splitlines()[-5:]
    if prov and rec["result"].get("metrics"):
        rec["provenance"] = json.loads(prov[len("provenance "):])
        # every end-to-end time of a run is calibrated by the same factor
        total = rec["result"]["metrics"]["total_s"]["value"]
        scale = total / rec["provenance"]["raw_s"]["total_s"]
        rec["hot_s"] = hot_latencies(checkout, rec["provenance"], scale)
        rec["phases"] = phases(checkout, rec["provenance"], scale)
    return rec


def quartile_spread(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def compare(parent, change, lower, bound):
    """One end-to-end metric over paired runs (parent[i] and change[i] ran
    as a pair): the median of each side, the change's relative move, the
    pairs the change won, the parent's interquartile spread and the
    verdict."""
    mp, mc = statistics.median(parent), statistics.median(change)
    delta = (mc - mp) / mp
    gain = -delta if lower else delta
    won = sum((b < a) if lower else (b > a) for a, b in zip(parent, change))
    iqr = quartile_spread(parent)
    if gain > bound and abs(mc - mp) > iqr and won * 10 >= 9 * len(parent):
        verdict = "improved"
    elif -gain > bound:
        verdict = "worse"
    else:
        verdict = "unresolved"
    return mp, mc, delta, won, iqr, verdict


def report(records, bench):
    """Print the comparison; return the number of runs not `correct`."""
    bad = [r for r in records if not r["result"].get("correct")]
    for r in bad:
        print(f"NOT CORRECT: {r['side']} {r['workload']} seed {r['seed']} "
              f"(exit {r['exit']}) {r.get('stderr', '')}")
    for workload in sorted({r["workload"] for r in records}):
        rs = [r for r in records if r["workload"] == workload and r["result"].get("correct")]
        by_seed = {}
        for r in rs:
            by_seed.setdefault(r["seed"], {})[r["side"]] = r
        seeds = [s for s, p in sorted(by_seed.items()) if len(p) == 2]
        pairs = [by_seed[s] for s in seeds]
        print(f"\n{workload}: {len(pairs)} complete pairs "
              f"(seeds {', '.join(map(str, seeds))})")
        if not pairs:
            continue
        print(f"{'metric':<13}{'parent':>10}{'change':>10}{'Δ%':>8}{'won':>7}"
              f"{'IQR(p)':>9}{'bound':>7}  verdict")
        for m in bench["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            p = [pr["parent"]["result"]["metrics"][name]["value"] for pr in pairs]
            c = [pr["change"]["result"]["metrics"][name]["value"] for pr in pairs]
            mp, mc, delta, won, iqr, verdict = compare(p, c, lower, m["bound"])
            print(f"{name:<13}{mp:>10.4g}{mc:>10.4g}{100 * delta:>+8.1f}"
                  f"{won:>4}/{len(pairs):<2}{iqr:>9.3g}{m['bound']:>7}  {verdict}")
        for title, field in (("set-up phase", "phases"),
                             ("per-query hot latency", "hot_s")):
            print(f"{title}, median over pairs (s):")
            for q in pairs[0]["parent"].get(field, {}):
                ps = [pr["parent"][field][q] for pr in pairs if q in pr["parent"].get(field, {})]
                cs = [pr["change"][field][q] for pr in pairs if q in pr["change"].get(field, {})]
                if not (ps and cs):
                    continue
                mp, mc = statistics.median(ps), statistics.median(cs)
                rel = f"{100 * (mc - mp) / mp:>+8.1f}%" if mp else ""
                print(f"  {q:<30}{mp:>8.3f}{mc:>8.3f}{rel}")
    return len(bad)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", nargs="?", help="checkout of the parent commit")
    ap.add_argument("change", nargs="?", help="checkout of the change")
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: every BENCHMARK.json workload)")
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 1,2,5 (default 1-10)")
    ap.add_argument("--out", help="JSON-lines file the run records are appended to")
    ap.add_argument("--report", help="print the comparison of an existing --out file")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.report:
        records = [json.loads(l) for l in Path(a.report).read_text().splitlines() if l.strip()]
        sys.exit(1 if report(records, bench) else 0)
    if not (a.parent and a.change and a.out):
        ap.error("PARENT, CHANGE and --out are required unless --report is given")
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    sides = {"parent": a.parent, "change": a.change}
    records = []
    for workload in workloads:
        for i, seed in enumerate(seed_list(a.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                rec = run_once(sides[side], side, workload, seed, bench["run_seconds"])
                records.append(rec)
                with open(a.out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                rss = rec["result"].get("metrics", {}).get("peak_rss_mb", {}).get("value")
                print(f"{workload} seed {seed} {side}: correct={rec['result'].get('correct')} "
                      f"peak_rss_mb={rss}", flush=True)
    sys.exit(1 if report(records, bench) else 0)


if __name__ == "__main__":
    main()
