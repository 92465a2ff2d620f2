"""Build file of the benchmark: compiles the engine's sources together with
the benchmark's own Scala sources into one class directory.

The Scala compiler and every library come from the Spark distribution
(`$SPARK_HOME/jars` ships scala-compiler next to the Spark jars), so the
build needs no dependency resolution. A stamp over the source contents
skips the compile when nothing changed, so only the first run in a
checkout pays for it.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_home() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            sys.exit("perfbench: set SPARK_HOME (no spark-submit on PATH)")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not jars.is_dir():
        sys.exit(f"perfbench: {jars} is not a directory")
    return Path(home)


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        sys.exit(f"perfbench: engine sources not found at {ENGINE_SRC}; "
                 "run from a checkout of the repository")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not any(ENGINE_SRC.rglob("*.scala")):
        sys.exit(f"perfbench: no Scala sources under {ENGINE_SRC}")
    return files


def stamp(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath() -> str:
    return f"{build_dir() / 'classes'}{os.pathsep}{spark_home() / 'jars' / '*'}"


def build() -> str:
    """Compile if the sources changed; return the sources' stamp."""
    files = sources()
    out = build_dir() / "classes"
    stamp_file = build_dir() / "classes.stamp"
    want = stamp(files)
    if out.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return want
    tmp = build_dir() / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = build_dir() / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    jars = str(spark_home() / "jars" / "*")
    cmd = [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", jars, f"@{argfile}"]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        sys.exit(f"perfbench: compile failed (exit {res.returncode})")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp_file.write_text(want)
    return want


if __name__ == "__main__":
    print(build())
