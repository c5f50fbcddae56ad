"""Shows that the correctness check fails an op whose output lost one row
or had one value changed, and passes it when the output is intact.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import tempfile
import unittest
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import check  # noqa: E402

# the compare script creates a view over every fixture table
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
REGION = {"r_regionkey": pa.array([0, 1, 2], pa.int32()),
          "r_name": pa.array(["AFRICA", "AMERICA", "ASIA"])}


class OracleCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        root = Path(self.tmp.name)
        self.sf, self.out = root / "sf", root / "check"
        self.sf.mkdir()
        self.out.mkdir()
        for t in TABLES:
            cols = REGION if t == "region" else {"k": pa.array([1], pa.int64())}
            pq.write_table(pa.table(cols), self.sf / f"{t}.parquet")
        (self.out / "oracle_sql.json").write_text(json.dumps({
            "regions": "SELECT r_regionkey, r_name FROM region",
            "n_regions": "SELECT count(*) AS n FROM region"}))

    def tearDown(self):
        self.tmp.cleanup()

    def write_output(self, op, cols):
        (self.out / op).mkdir(exist_ok=True)
        pq.write_table(pa.table(cols), self.out / op / "part-00000.parquet")

    def run_check(self, regions):
        self.write_output("regions", regions)
        self.write_output("n_regions", {"n": pa.array([3], pa.int64())})
        return check.oracle_check(self.sf, self.out, ["regions", "n_regions"])

    def test_intact_output_passes(self):
        # row order is not part of the answer
        self.assertEqual(self.run_check({
            "r_name": pa.array(["ASIA", "AFRICA", "AMERICA"]),
            "r_regionkey": pa.array([2, 0, 1], pa.int32())}), {})

    def test_dropped_row_fails(self):
        failures = self.run_check({k: v[:2] for k, v in REGION.items()})
        self.assertEqual(list(failures), ["regions"])

    def test_changed_value_fails(self):
        failures = self.run_check({
            "r_regionkey": REGION["r_regionkey"],
            "r_name": pa.array(["AFRICA", "AMERICA", "EUROPE"])})
        self.assertEqual(list(failures), ["regions"])

    def test_op_without_oracle_fails(self):
        self.run_check(REGION)
        self.write_output("unoracled", REGION)
        failures = check.oracle_check(self.sf, self.out, ["regions", "unoracled"])
        self.assertEqual(failures, {"unoracled": "no oracle SQL"})


if __name__ == "__main__":
    unittest.main()
