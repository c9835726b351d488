#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/test_bench.py            # all tests (~10 minutes on 4 cores)
    python3 perfbench/test_bench.py -k generators

- generators: seeded inputs are byte-identical per seed, differ across
  seeds with the same line count and shape, and carry planted families.
- exact counts: two traced runs of one seed report identical exact-count
  ledger metrics (records_out, jobs, shuffle_write_mb and the ratios).
- missing sources: in a directory holding only the benchmark files, the
  command exits non-zero without printing a result.
"""

import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

EXACT_SUFFIXES = (".records_out", ".jobs", ".shuffle_write_mb",
                  ".kept_ratio", ".combine_ratio", ".active_ratio")
# Adaptive execution decides at run time whether one input of the
# similarity intersection join is shuffled before the join turns into a
# broadcast, depending on which stage finishes first: the layer then runs
# 24 or 25 jobs, and the scores it hands to the evaluation are partitioned
# differently. Everything else repeats exactly.
NOT_EXACT = {
    "zipf_lifecycle": {"pipeline.similarity.jobs",
                       "pipeline.similarity.shuffle_write_mb",
                       "eval.evaluate.shuffle_write_mb"},
}


def bench(workload, seed, seconds, trace, cwd=run.ROOT):
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return res


class GeneratorTest(unittest.TestCase):
    def test_generators(self):
        classes = run.build()
        work = run.WORK / "gencheck"
        (work / "tmp").mkdir(parents=True, exist_ok=True)
        try:
            code, lines = run.run_jvm(
                run.java_cmd(classes, "graftbench.GenCheck",
                             ["--work", str(work)], work), 600)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print("\n".join(lines))
        self.assertEqual(code, 0, "generator checks failed")
        self.assertTrue(any(l.startswith("ok") for l in lines))


class ExactCountTest(unittest.TestCase):
    def test_exact_counts_repeat(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                results = []
                for _ in range(2):
                    r = bench(w, 7, 2, 1)
                    self.assertEqual(r.returncode, 0, r.stderr[-2000:])
                    results.append(json.loads(r.stdout.strip().splitlines()[-1]))
                a, b = results
                self.assertTrue(a["correct"] and b["correct"])
                exact = sorted(k for k in a["metrics"] if k.endswith(EXACT_SUFFIXES)
                               and k not in NOT_EXACT.get(w, ()))
                self.assertGreater(len(exact), 0)
                differ = {k: (a["metrics"][k]["value"], b["metrics"][k]["value"])
                          for k in exact
                          if a["metrics"][k]["value"] != b["metrics"][k]["value"]}
                self.assertEqual(differ, {}, f"{w}: exact counts moved")
                exercised = [k for k in exact if k.endswith(".records_out")
                             and a["metrics"][k]["value"] > 0]
                self.assertGreater(len(exercised), 0)


class MissingSourcesTest(unittest.TestCase):
    def test_fails_without_library_sources(self):
        bare = run.WORK / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        try:
            shutil.copy(run.ROOT / "BENCHMARK.json", bare)
            shutil.copytree(run.BENCH, bare / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = bench(run.WORKLOADS[0], 1, 1, 0, cwd=bare)
        finally:
            shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"correct"', r.stdout)


if __name__ == "__main__":
    unittest.main(verbosity=2)
