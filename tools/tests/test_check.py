"""tools/check.py: which directories of a Verify run it checks.

    python3 -m unittest discover -s tools/tests
"""
import contextlib
import io
import json
import sys
import tempfile
import unittest
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import check  # noqa: E402


class CheckKeysTest(unittest.TestCase):
    """A two-key Verify run over one-row fixture tables: q1 and q2 have
    exact oracles, q3 a bounded one."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        root = Path(self.tmp.name)
        self.sf = root / "sf"
        self.out = root / "vout"
        self.sf.mkdir()
        self.out.mkdir()
        con = duckdb.connect()
        for t in check.TABLES:
            con.execute(f"COPY (SELECT 1 AS x) TO '{self.sf}/{t}.parquet'")
        (self.out / "oracle_sql.json").write_text(json.dumps(
            {"q1": "SELECT x AS a FROM region", "q2": "SELECT 2 AS a"}))
        (self.out / "bounded_oracles.json").write_text(json.dumps(
            {"q3": {"sql": "SELECT 1 AS k, 100.0 AS v", "keys": ["k"],
                    "rtol": 0.05}}))
        self.dump(con, "q1", "SELECT 1 AS a")
        self.dump(con, "q2", "SELECT 2 AS a")
        self.dump(con, "q3", "SELECT 1 AS k, 102.0 AS v")
        self.con = con

    def tearDown(self):
        self.con.close()
        self.tmp.cleanup()

    def dump(self, con, key, sql):
        (self.out / key).mkdir()
        con.execute(f"COPY ({sql}) TO '{self.out}/{key}/part-0.parquet'")

    def main(self):
        with contextlib.redirect_stdout(io.StringIO()):
            return check.main([str(self.sf), str(self.out)])

    def test_stray_directory_is_ignored(self):
        plans = self.out / "plans"
        plans.mkdir()
        (plans / "q1.txt").write_text("== Optimized Logical Plan ==\n")
        results = check.run(self.sf, self.out)
        self.assertEqual(sorted(results), ["q1", "q2", "q3"])
        self.assertTrue(results["q1"].startswith("OK"), results)
        self.assertTrue(results["q3"].startswith("BOUNDED-OK"), results)
        self.assertEqual(self.main(), 0)

    def test_expected_key_without_result_fails(self):
        for f in (self.out / "q2").iterdir():
            f.unlink()
        (self.out / "q2").rmdir()
        results = check.run(self.sf, self.out)
        self.assertTrue(results["q2"].startswith("MISSING"), results)
        self.assertTrue(results["q1"].startswith("OK"), results)
        self.assertEqual(self.main(), 1)


if __name__ == "__main__":
    unittest.main()
