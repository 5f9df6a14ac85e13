#!/usr/bin/env python3
"""The benchmark's own tests.

Run from the root of a checkout:
  python3 pipebench/test_bench.py

They check that the generator is a function of its seed (same seed, same
bytes; another seed, other bytes) and that every output check of the
harness rejects a deliberately wrong answer (`pipebench.SelfTest`, which the
first test builds if needed), and that the near-dup lower-bound oracle is the
engine's J >= 0.8 oracle with the threshold raised to 1.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=os.path.join(HERE, ".work"))

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def digest(self, workload, seed, name):
        out = os.path.join(self.tmp, name)
        gen.generate(workload, seed, out, os.path.join(out, "input"))
        return run.files_digest(out)

    def test_same_seed_same_bytes(self):
        for w in gen.SIZES:
            self.assertEqual(self.digest(w, 7, w + "-a"),
                             self.digest(w, 7, w + "-b"), w)

    def test_other_seed_other_bytes(self):
        for w in gen.SIZES:
            self.assertNotEqual(self.digest(w, 7, w + "-a"),
                                self.digest(w, 8, w + "-b"), w)

    def test_planted_properties(self):
        stats = gen.generate("llm_ingest", 7, os.path.join(self.tmp, "p"),
                             os.path.join(self.tmp, "p", "input"))
        for rate in gen.EDIT_RATES:
            self.assertGreater(stats["variant_rate_%g" % rate], 0)
        self.assertGreater(stats["contaminated"], 0)
        self.assertGreater(stats["batch_with_family"], 0)
        self.assertGreater(stats["low_quality"], 0)

    def test_refresh_favours_recent_keys(self):
        out = os.path.join(self.tmp, "etl")
        gen.generate("etl_lake", 7, out, os.path.join(out, "input"))
        import pyarrow.parquet as pq
        before = pq.read_table(os.path.join(out, "expect", "etl_0.parquet"))
        after = pq.read_table(os.path.join(out, "expect", "etl_1.parquet"))
        changed = [i for i, (a, b) in enumerate(zip(
            before.column("value").to_pylist(),
            after.column("value").to_pylist())) if a != b]
        n = before.num_rows
        self.assertEqual(len(changed), int(n * gen.SIZES["etl_lake"]["refresh_share"]))
        newer_half = sum(i >= n // 2 for i in changed)
        self.assertGreater(newer_half, len(changed) * 0.6)
        self.assertEqual(len({i % gen.ZONE_BUCKETS for i in changed}),
                         gen.REFRESH_RESIDUES)


class CheckTest(unittest.TestCase):
    def test_checks_reject_wrong_answers(self):
        run.build()
        scratch = tempfile.mkdtemp(dir=os.path.join(HERE, ".work"))
        try:
            res = subprocess.run(run.java_cmd("pipebench.SelfTest", scratch),
                                 capture_output=True, text=True)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        sys.stdout.write(res.stdout)
        self.assertEqual(res.returncode, 0, res.stdout + res.stderr[-2000:])

    def test_identical_sets_oracle(self):
        with open(run.build()) as f:
            sql = json.load(f)
        for q in run.LSH_BOUNDED["llm_ingest"]:
            text = run.identical_sets_sql(sql[q])
            self.assertNotIn(">= 0.8", text)
            self.assertEqual(text.count(">= 1.0"), 2)
        with self.assertRaises(ValueError):
            run.identical_sets_sql("SELECT 1 WHERE j >= 0.8")


if __name__ == "__main__":
    unittest.main()
