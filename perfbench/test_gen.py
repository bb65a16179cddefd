"""The generator's own test: python3 perfbench/test_gen.py

Same seed -> byte-identical inputs; another seed -> different rows with the
same schemas and row counts."""
import os
import shutil
import sys
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

TMP_ROOT = os.path.join(os.path.dirname(HERE), ".perfbench", "test-gen")


def files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet"))


class GeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        shutil.rmtree(TMP_ROOT, ignore_errors=True)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(TMP_ROOT, ignore_errors=True)

    def check(self, workload):
        a = gen.generate(workload, 11, os.path.join(TMP_ROOT, f"{workload}-a"))
        b = gen.generate(workload, 11, os.path.join(TMP_ROOT, f"{workload}-b"))
        c = gen.generate(workload, 12, os.path.join(TMP_ROOT, f"{workload}-c"))
        self.assertEqual(files(a), files(b))
        self.assertEqual(files(a), files(c))
        for f in files(a):
            with open(os.path.join(a, f), "rb") as x, open(os.path.join(b, f), "rb") as y:
                self.assertEqual(x.read(), y.read(), f"seed 11 twice differs in {f}")
        for f in files(a):
            ta, tc = pq.read_table(os.path.join(a, f)), pq.read_table(os.path.join(c, f))
            self.assertEqual(ta.schema, tc.schema, f)
            self.assertEqual(ta.num_rows, tc.num_rows, f)
            if os.path.basename(f)[:-len(".parquet")] in gen.PERMUTE:
                self.assertFalse(ta.equals(tc), f"seeds 11 and 12 give the same {f}")

    def test_alerts_pipeline(self):
        self.check("alerts_pipeline")

    def test_curation(self):
        self.check("curation")

    def test_alerts_stream_snapshots_change_tens_of_alerts(self):
        out = gen.generate("alerts_stream", 11, os.path.join(TMP_ROOT, "stream"))
        s0 = pq.read_table(os.path.join(out, "snapshots", "s00000.parquet")).to_pydict()
        s1 = pq.read_table(os.path.join(out, "snapshots", "s00001.parquet")).to_pydict()
        diff = sum(a != b for a, b in zip(s0["ck"], s1["ck"]))
        self.assertEqual(diff, gen.SNAPSHOT_CHANGES)


if __name__ == "__main__":
    unittest.main()
