"""Run the benchmark on several seeds and report each end-to-end metric's
median and spread (quartile distance over median) against its bound.

    python3 perfbench/steady.py --workload churn --seeds 1 2 3 4 5
    python3 perfbench/steady.py --workload migrate --seeds 1 2 3 --out runs.json

Seeds run one after another. `--out` keeps the raw results as JSON.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        raise SystemExit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=int, default=spec["run_seconds"])
    p.add_argument("--out")
    a = p.parse_args()
    results = []
    for s in a.seeds:
        r = run(a.workload, s, a.seconds, 0)
        print(f"seed {s}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}",
              flush=True)
        results.append(r)
    if a.out:
        Path(a.out).write_text(json.dumps(results, indent=1))
    print(f"{'metric':24} {'median':>12} {'spread':>8} {'bound':>6}")
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        med = statistics.median(vals)
        spread = 0.0
        if len(vals) >= 2:
            q = statistics.quantiles(vals, n=4)
            spread = (q[2] - q[0]) / med
        flag = "" if m["name"] == "setup_s" or spread <= m["bound"] / 3 else "  <-- above bound/3"
        print(f"{m['name']:24} {med:12.4f} {spread:8.3f} {m['bound']:6.2f}{flag}")


if __name__ == "__main__":
    main()
