"""Tests for check_oracle.py's type gate.

Usage: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import unittest

import duckdb

from check_oracle import hugeint_columns


class HugeintColumnsTest(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()

    def test_flags_hugeint_column(self):
        rel = self.con.sql("SELECT 1::HUGEINT AS s, 2::BIGINT AS n")
        self.assertEqual(hugeint_columns(rel), [["s", "HUGEINT"]])

    def test_duplicate_name_does_not_hide_hugeint(self):
        rel = self.con.sql("SELECT 1::HUGEINT AS x, 2::INTEGER AS x")
        self.assertEqual(hugeint_columns(rel), [["x", "HUGEINT"]])

    def test_clean_relation(self):
        rel = self.con.sql("SELECT 1::BIGINT AS x, 2.0::DOUBLE AS y")
        self.assertEqual(hugeint_columns(rel), [])


if __name__ == "__main__":
    unittest.main()
