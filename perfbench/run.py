#!/usr/bin/env python3
"""The repository's benchmark: one command builds the engine, runs one
workload in one JVM, checks every result against its expected digest and
prints every metric by name with its unit.

    python3 perfbench/run.py --workload tpcds_power --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --write-digests     # regenerate expected_digests.json

Run it from the root of a checkout. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. A line before it (prefixed "provenance") records the host
and build the numbers were measured on. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("tpcds_power", "stream_replay")
DATA = build.BENCH / "data" / "sf0.01"
DIGESTS = build.BENCH / "expected_digests.json"
JVM_TIMEOUT_S = 170
# the add-opens Spark 4 needs on JDK 17 outside spark-submit (build.sbt's
# jdk17AddOpens list)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def jvm(args, run_dir: Path, log: Path, main: str = "graft.perfbench.Main") -> None:
    """Run a benchmark JVM with every file it writes inside run_dir."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    # a fixed heap and young generation keep the peak RSS a property of
    # the program rather than of when the collector chose to grow the heap
    cmd = [build.java(), "-Xms3g", "-Xmx3g", "-Xmn768m", "-Xss16m", "-XX:-UsePerfData",
           *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS],
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
           "-Dspark.ui.enabled=false",
           "-cp", build.classpath(), main, *args]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(metrics.CPUS))
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=err,
                                stderr=err, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(f"perfbench: JVM exceeded {JVM_TIMEOUT_S}s (log: {log})")
    if code != 0:
        tail = log.read_text(errors="replace").splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        sys.exit(f"perfbench: JVM exited with {code} (log: {log})")


def git_commit() -> str:
    """HEAD of the checkout, or "unknown" when it is not a git work tree
    of its own (a plain export of the sources)."""
    def git(*args):
        return subprocess.run(["git", *args], cwd=build.ROOT, capture_output=True,
                              text=True, check=True).stdout.strip()
    try:
        if Path(git("rev-parse", "--show-toplevel")).resolve() == build.ROOT:
            return git("rev-parse", "HEAD")
    except (OSError, subprocess.CalledProcessError):
        pass
    return "unknown"


def fresh_dir(name: str) -> Path:
    d = build.build_dir() / "runs" / name
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return d


def write_digests() -> None:
    build.build()
    d = fresh_dir("digests")
    jvm(["--workload", "digests", "--data", str(DATA), "--out", str(d / "spans.jsonl")],
        d, d / "jvm.log")
    digests = {}
    for s in metrics.load(d / "spans.jsonl"):
        if s["name"] == "query":
            a = s["attrs"]
            if not a.get("ok"):
                sys.exit(f"perfbench: {a['query']} threw: {a.get('error')}")
            digests[a["query"]] = a["digest"]
    DIGESTS.write_text(json.dumps(dict(sorted(digests.items())), indent=1) + "\n")
    print(f"wrote {len(digests)} digests to {DIGESTS}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-digests", action="store_true")
    a = ap.parse_args()
    if a.write_digests:
        return write_digests()
    if a.workload is None:
        ap.error("--workload is required")
    if not DATA.is_dir() or not DIGESTS.is_file():
        sys.exit(f"perfbench: fixtures or digests missing under {build.BENCH}")
    stamp = build.build()
    run_dir = fresh_dir(f"{a.workload}-seed{a.seed}-trace{a.trace}")
    spans_file = run_dir / "spans.jsonl"
    jvm(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", str(a.trace), "--data", str(DATA), "--out", str(spans_file)],
        run_dir, run_dir / "jvm.log")
    spans = metrics.load(spans_file)
    expected = json.loads(DIGESTS.read_text())
    attempted, failures = metrics.check(spans, expected)
    e2e, info = metrics.end_to_end(spans)
    run = next(s for s in spans if s["name"] == "run")["attrs"]
    provenance = {
        "workload": a.workload, "seed": a.seed, "traced": bool(a.trace),
        "nproc": os.cpu_count(), "spark_graft_cpus": metrics.CPUS,
        "xmx_mb": run["xmx_mb"], "java": run["java"], "git_commit": git_commit(),
        "source_sha256": stamp, "canary_st": run["canary_st"],
        "canary_mt": run["canary_mt"], "spans": os.path.relpath(spans_file, build.ROOT),
        "error_rate": len(failures) / attempted, "failures": failures[:10],
        **info,
    }
    print("provenance " + json.dumps(provenance))
    chosen = metrics.per_layer(spans) if a.trace else e2e
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    shutil.rmtree(run_dir / "tmp", ignore_errors=True)
    shutil.rmtree(run_dir / "warehouse", ignore_errors=True)
    if failures:
        for f in failures[:10]:
            print(f"perfbench: WRONG RESULT {f}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
