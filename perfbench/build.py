"""Build the benchmark harness: one scalac pass over the repository's
`src/main/scala` plus `perfbench/src`, against the jars of the Spark
installation (which include the Scala 2.13 compiler). No sbt, no dependency
resolution, nothing written outside the checkout.

    python3 perfbench/build.py            # builds into .bench_build/classes

The output directory is stamped with a hash of every source file, so a
second call with unchanged sources does nothing.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars() -> Path:
    """`$SPARK_HOME/jars`, else the `jars` beside a `bin/spark-submit` on PATH."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else [
        Path(d).parent for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").exists()]
    for home in homes:
        if any((home / "jars").glob("spark-core_2.13-*.jar")):
            return home / "jars"
    raise SystemExit("build: no Spark installation found (set SPARK_HOME)")


def sources() -> list:
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"build: missing source directory {d.relative_to(ROOT)}")
    found = sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))
    if not found:
        raise SystemExit("build: no Scala sources found")
    return found


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> Path:
    """Compile if the sources changed; return the classes directory."""
    files = sources()
    digest = stamp(files)
    stamp_file = CLASSES / ".stamp"
    if stamp_file.exists() and stamp_file.read_text() == digest:
        return CLASSES
    jars = spark_jars()
    if CLASSES.exists():
        shutil.rmtree(CLASSES)
    CLASSES.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss16m", "-Xmx3g", f"-Djava.io.tmpdir={BUILD}",
           "-cp", cp, "scala.tools.nsc.Main",
           "-d", str(CLASSES), "-classpath", cp, "-nowarn", f"@{argfile}"]
    print(f"build: compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    stamp_file.write_text(digest)
    return CLASSES


if __name__ == "__main__":
    print(build())
