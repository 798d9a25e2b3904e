"""The benchmark's own tests.

    python3 perfbench/test_bench.py          # about seven minutes on 4 cores

- the same seed gives identical inputs (and another seed other inputs);
- a tampered output makes a check fail, so `correct` is false and
  `failed` (hence the error rate) rises;
- every printed metric name and unit matches BENCHMARK.json, in order;
- Spark job counts per workload repeat exactly across two traced runs.
"""
import functools
import json
import re
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


@functools.lru_cache(maxsize=None)
def run(workload, seed, trace=0, flags=(), rep=0):
    """stdout of one run; `rep` only tells repeated runs apart in the cache."""
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace),
           *flags]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        raise AssertionError(f"{cmd} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return out.stdout


def result(stdout):
    return json.loads(stdout.strip().splitlines()[-1])


def digests(stdout):
    return re.findall(r"digest=(\w+)", stdout)


class SameSeedSameInputs(unittest.TestCase):
    def test_input_digest_repeats_per_seed(self):
        for w in WORKLOADS:
            a = digests(run(w, 7, 0, ("--digest-only",)))
            b = digests(run(w, 7, 0, ("--digest-only",), rep=1))
            c = digests(run(w, 8, 0, ("--digest-only",)))
            self.assertEqual(a, b, w)
            self.assertNotEqual(a, c, w)

    def test_operation_digest_repeats(self):
        # the closing digest covers every generated operation parameter too
        for w in WORKLOADS:
            a, b = digests(run(w, 3, 1)), digests(run(w, 3, 1, rep=1))
            self.assertEqual(len(a), 2, w)
            self.assertEqual(a, b, w)


class TamperedOutputFails(unittest.TestCase):
    def test_tamper(self):
        for w in WORKLOADS:
            r = result(run(w, 3, 0, ("--tamper",)))
            self.assertFalse(r["correct"], w)
            self.assertGreaterEqual(r["failed"], 1, w)
            clean = result(run(w, 3, 1))
            self.assertTrue(clean["correct"], w)
            self.assertEqual(clean["failed"], 0, w)


class MetricNamesMatchSpec(unittest.TestCase):
    def check(self, stdout, spec):
        metrics = result(stdout)["metrics"]
        self.assertEqual(list(metrics), [m["name"] for m in spec])
        self.assertEqual([v["unit"] for v in metrics.values()], [m["unit"] for m in spec])

    def test_names(self):
        for w in WORKLOADS:
            self.check(run(w, 3, 0, ("--tamper",)), SPEC["end_to_end"])
            self.check(run(w, 3, 1), SPEC["per_layer"])


class JobCountsRepeat(unittest.TestCase):
    def test_jobs(self):
        for w in WORKLOADS:
            a = result(run(w, 3, 1))["metrics"]
            b = result(run(w, 3, 1, rep=1))["metrics"]
            self.assertGreater(a["spark.jobs_pass1"]["value"], 0, w)
            for k in a:
                if k.endswith(".jobs") or k.startswith("spark.jobs"):
                    self.assertEqual(a[k]["value"], b[k]["value"], f"{w} {k}")


if __name__ == "__main__":
    unittest.main(verbosity=2)
