"""Negative controls for the reference-key oracle check.

Run from the repository root: python3 -m unittest discover -s streambench/tests
"""
import shutil
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import duckdb  # noqa: E402

import refcheck  # noqa: E402
import run  # noqa: E402

SQL = "SELECT event_type, count(*) AS cnt, sum(value) AS total FROM events GROUP BY 1"


class RefCheckTest(unittest.TestCase):
    def setUp(self):
        self.dir = HERE / "target" / "test-refcheck"
        shutil.rmtree(self.dir, ignore_errors=True)
        refcheck.write_events(self.dir / "tables" / "events.parquet", 7, 2000)
        self.con = duckdb.connect()
        self.con.execute("CREATE VIEW events AS SELECT * FROM "
                         f"'{self.dir}/tables/events.parquet'")

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.dir, ignore_errors=True)

    def output(self, name, sql):
        d = self.dir / "ref" / name
        d.mkdir(parents=True)
        self.con.execute(f"COPY ({sql}) TO '{d}/part-0.parquet' (FORMAT PARQUET)")
        return d

    def test_inputs_follow_the_seed(self):
        other = self.dir / "again.parquet"
        refcheck.write_events(other, 7, 2000)
        same = self.con.execute(
            f"SELECT count(*) FROM (SELECT * FROM '{other}' EXCEPT "
            f"SELECT * FROM '{self.dir}/tables/events.parquet')").fetchone()[0]
        self.assertEqual(same, 0)

    def test_matching_output_passes(self):
        self.assertEqual(refcheck.compare_key(self.con, SQL, self.output("k", SQL)), "OK")

    def test_perturbed_key_fails(self):
        bad = SQL.replace("sum(value)", "sum(value) + 1e-9")
        self.assertTrue(refcheck.compare_key(
            self.con, SQL, self.output("k", bad)).startswith("VALUE"))

    def test_dropped_row_and_missing_output_fail(self):
        self.assertTrue(refcheck.compare_key(
            self.con, SQL, self.output("k", SQL + " LIMIT 2")).startswith("ROWS"))
        self.assertTrue(refcheck.compare_key(
            self.con, SQL, self.dir / "ref" / "absent").startswith("SPARK-READ-FAIL"))

    def test_failed_key_raises_the_error_rate(self):
        res = {"windows": {"attempted": 10, "failed": 0},
               "risk": {"attempted": 10, "failed": 0}, "errors": [],
               "reference": {"a": "OK", "b": "VALUE row 0 cnt"},
               "info": {"reference_keys": "2"}}
        attempted, failed, rates = run.outcome(res)
        self.assertEqual((attempted, failed), (22, 1))
        self.assertEqual(rates["reference"], 0.5)
        self.assertEqual(rates["window"], 0.0)


if __name__ == "__main__":
    unittest.main()
