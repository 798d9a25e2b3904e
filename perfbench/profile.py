"""Record a baseline profile: for each workload, one untraced and one traced
run of the same seed, written to perfbench/baseline/<workload>.json with
the tracing overhead (traced minus untraced pass time).

    python3 perfbench/profile.py --seed 1
"""
import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from steady import ROOT, run  # noqa: E402


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=1)
    a = p.parse_args()
    out = ROOT / "perfbench" / "baseline"
    out.mkdir(exist_ok=True)
    for w in (x["name"] for x in spec["workloads"]):
        plain = run(w, a.seed, spec["run_seconds"], 0)
        traced = run(w, a.seed, spec["run_seconds"], 1)
        e2e = {k: v["value"] for k, v in plain["metrics"].items()}
        layer = {k: v["value"] for k, v in traced["metrics"].items()}
        doc = {
            "workload": w, "seed": a.seed, "run_seconds": spec["run_seconds"],
            "correct": plain["correct"] and traced["correct"],
            "tracing_overhead_wall_s": layer["trace.wall_s"] - e2e["wall_s"],
            "end_to_end_untraced": e2e,
            "per_layer_traced": layer,
        }
        (out / f"{w}.json").write_text(json.dumps(doc, indent=1) + "\n")
        print(f"{w}: overhead {doc['tracing_overhead_wall_s']:+.3f} s per pass", flush=True)


if __name__ == "__main__":
    main()
