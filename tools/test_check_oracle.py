"""Tests of `check_oracle.py --compare` over tiny Verify-style dumps
(`<dump>/<query>/*.parquet`) written with DuckDB; no Spark involved.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb

TOOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "check_oracle.py")


def write_query(dump, name, rows):
    """One query result dir holding one parquet file of (k BIGINT, v VARCHAR)."""
    os.makedirs(os.path.join(dump, name), exist_ok=True)
    values = ", ".join(f"({k}, '{v}')" for k, v in rows)
    duckdb.sql(f"COPY (SELECT * FROM (VALUES {values}) t(k, v)) TO "
               f"'{os.path.join(dump, name, 'part-0.parquet')}' (FORMAT PARQUET)")


def compare(a, b):
    """Exit code and stdout of `check_oracle.py --compare a b`."""
    p = subprocess.run([sys.executable, TOOL, "--compare", a, b],
                       capture_output=True, text=True)
    return p.returncode, p.stdout


class CompareMode(unittest.TestCase):
    ROWS = [(1, "a"), (2, "b"), (3, "c")]

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.a = os.path.join(self.tmp.name, "a")
        self.b = os.path.join(self.tmp.name, "b")
        os.makedirs(self.a)
        os.makedirs(self.b)

    def tearDown(self):
        self.tmp.cleanup()

    def test_identical_dumps_exit_0(self):
        for d in (self.a, self.b):
            write_query(d, "q_one", self.ROWS)
            # row order inside the files does not matter
            write_query(d, "q_two", self.ROWS if d == self.a else self.ROWS[::-1])
        code, out = compare(self.a, self.b)
        self.assertEqual(code, 0, out)
        self.assertIn("2 identical, 0 differ", out)

    def test_one_changed_row_exits_1(self):
        write_query(self.a, "q_one", self.ROWS)
        write_query(self.b, "q_one", [(1, "a"), (2, "B"), (3, "c")])
        code, out = compare(self.a, self.b)
        self.assertEqual(code, 1, out)
        self.assertIn("FAIL q_one", out)

    def test_query_on_one_side_only_exits_1(self):
        for d in (self.a, self.b):
            write_query(d, "q_one", self.ROWS)
        write_query(self.b, "q_extra", self.ROWS)
        code, out = compare(self.a, self.b)
        self.assertEqual(code, 1, out)
        self.assertIn(f"FAIL q_extra: only in {self.b}", out)

    def test_two_empty_dumps_exit_1(self):
        code, out = compare(self.a, self.b)
        self.assertEqual(code, 1, out)
        self.assertIn("0 identical, 0 differ", out)


if __name__ == "__main__":
    unittest.main()
