"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 12 --trace 0

Builds the harness from the checkout's sources if needed (see build.py),
then runs it in one JVM: a single client thread drives the workload in a
closed loop against a local Spark session. Human-readable lines go to
standard output first; the last line is the JSON result. Every file the run
writes lives under `.bench_build/` in the checkout and is removed at exit,
apart from the span dump of a traced run (`.bench_build/traces/`).
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("migrate", "churn")
# the JVM gets this long before it is killed, so a wedged run still ends
# inside the 180 s a run may take
HARD_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tamper", action="store_true",
                   help="corrupt one output before the final check (tests the checks)")
    p.add_argument("--digest-only", action="store_true",
                   help="generate the inputs, print their digest, and stop")
    return p.parse_args()


def main() -> int:
    args = parse()
    if args.seconds < 1:
        print("run: --seconds must be at least 1", file=sys.stderr)
        return 2
    classes = build.build()
    jars = build.spark_jars()
    work = build.BUILD / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # half the cores run Spark tasks; the other half stay free for the
    # driver thread, JIT and GC, which carry the per-operation fixed costs
    cpus = max(1, (os.cpu_count() or 2) // 2)
    try:
        cpus = max(1, min(cpus, int(os.environ.get("SPARK_GRAFT_CPUS", cpus))))
    except ValueError:
        pass
    # a fixed heap and a metaspace threshold above Spark's class footprint
    # keep full collections out of the measured passes
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss16m", "-XX:+UseParallelGC", "-XX:MetaspaceSize=512m",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={build.ROOT / 'perfbench' / 'log4j2.properties'}"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{jars}/*", "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(cpus), "--work-dir", str(work),
              "--trace-dir", str(build.BUILD / "traces")]
           + (["--tamper"] if args.tamper else [])
           + (["--digest-only"] if args.digest_only else []))
    env = dict(os.environ, LC_ALL="C.UTF-8")
    proc = subprocess.Popen(cmd, cwd=build.ROOT, env=env, start_new_session=True)
    # a TERM to this process must not orphan the JVM's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = proc.wait(timeout=HARD_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"run: harness exceeded {HARD_LIMIT_S} s, killed", file=sys.stderr)
        code = 124
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
