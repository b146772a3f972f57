"""Self-test of the benchmark's output check and failure accounting.

    python3 -m unittest discover -s perfbench/tests

The end-to-end case (a unit that always raises, run through the real
harness) builds and starts Spark; it runs only with PERFBENCH_E2E=1, from
the root of a checkout.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import outcheck  # noqa: E402
import run  # noqa: E402

CHECKER = os.path.join(ROOT, "tools", "check_oracle.py")
TABLE = pd.DataFrame({"id": range(20), "name": [f"n{i % 7}" for i in range(20)],
                      "x": [i / 8 for i in range(20)]})


class OutputCheck(unittest.TestCase):
    """An input table `t`, its oracle `SELECT * FROM t`, and an output
    directory that a test may tamper with before checking it."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.sf = os.path.join(self.tmp.name, "sf")
        self.out = os.path.join(self.tmp.name, "out")
        os.makedirs(self.sf)
        os.makedirs(os.path.join(self.out, "q_demo"))
        TABLE.to_parquet(os.path.join(self.sf, "t.parquet"), index=False)
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump({"q_demo": "SELECT id, name, x FROM t"}, f)
        self.write(TABLE)
        self.reference = {"q_demo": outcheck.digest(os.path.join(self.out, "q_demo"))}

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, df):
        d = os.path.join(self.out, "q_demo")
        for f in os.listdir(d):
            os.remove(os.path.join(d, f))
        half = len(df) // 2  # two files, as a Spark write would leave them
        df.iloc[:half].to_parquet(os.path.join(d, "part-0.parquet"), index=False)
        df.iloc[half:].to_parquet(os.path.join(d, "part-1.parquet"), index=False)

    def verdict(self, reference=None):
        return outcheck.check(self.out, ["q_demo"], reference or self.reference,
                              self.sf, CHECKER, 60)["q_demo"]

    def test_unchanged_output_passes_by_digest(self):
        self.assertEqual(self.verdict(), "digest")

    def test_row_order_does_not_matter(self):
        self.write(TABLE.sample(frac=1, random_state=7))
        self.assertEqual(self.verdict(), "digest")

    def test_dropped_row_fails(self):
        self.write(TABLE.drop(index=5))
        self.assertEqual(self.verdict(), "failed")

    def test_changed_value_fails(self):
        bad = TABLE.copy()
        bad.loc[3, "x"] = 99.5
        self.write(bad)
        self.assertEqual(self.verdict(), "failed")

    def test_missing_output_fails(self):
        shutil.rmtree(os.path.join(self.out, "q_demo"))
        self.assertEqual(self.verdict(), "failed")

    def test_stale_digest_defers_to_the_oracle(self):
        stale = {"q_demo": dict(self.reference["q_demo"], h1="0" * 16)}
        self.assertEqual(self.verdict(stale), "oracle")


def unit(name, wall, ok=True):
    return {"unit": name, "ok": ok, "error": "" if ok else "boom", "wall_s": wall,
            "construct_s": wall / 2, "plan_s": 0.0, "exec_s": wall / 2, "release_s": 0.0}


class FailureAccounting(unittest.TestCase):

    def record(self):
        passes = [{"wall_s": 2.0 + p, "traced": False, "layers": {}, "sites": {},
                   "units": [unit("q1", 1.0 + p), unit("fail.x", 0.1, ok=False)]}
                  for p in range(3)]
        return {"outputs": {"q1": ["q1"], "fail.x": ["fail.x"]}, "passes": passes,
                "setups": [{"start_s": 1.0, "warm_s": 2.0}] * 3, "jvm_boot_s": 0.5,
                "peak_heap_mb": 100.0}

    def test_raising_unit_counts_as_failed_and_the_rest_is_measured(self):
        e2e, _, attempted, failed, samples, _ = run.summarise(self.record(), {"fail.x"})
        self.assertEqual((attempted, failed, samples), (6, 3, 3))
        self.assertEqual(e2e["query_p50_s"], 2.0)
        self.assertEqual(e2e["wall_s"], 3.0)

    def test_output_that_fails_its_check_fails_every_run_of_its_unit(self):
        _, _, attempted, failed, samples, _ = run.summarise(self.record(), {"q1", "fail.x"})
        self.assertEqual((attempted, failed, samples), (6, 6, 0))


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1")
class FailingUnitEndToEnd(unittest.TestCase):

    def test_failing_unit_is_counted_without_aborting_the_run(self):
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                            "--workload", "text_vector_kernels", "--seed", "1",
                            "--seconds", "1", "--trace", "0", "--extra-unit", "fail.selftest"],
                           cwd=os.getcwd(), capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        r = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(r["correct"])
        self.assertTrue(0 < r["failed"] < r["attempted"], r)
        self.assertIsNotNone(r["metrics"]["wall_s"]["value"])


if __name__ == "__main__":
    unittest.main()
