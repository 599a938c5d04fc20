"""Tests of the local oracle gate's value rule, tools/localverify.py's
`values_equal`: the rule every Spark-vs-DuckDB cell comparison goes through.

Run from the repository root: python3 -m unittest discover -s tools/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from localverify import values_equal  # noqa: E402

NAN = float("nan")


class ValuesEqualTest(unittest.TestCase):

    def test_none_and_nan_are_one_null(self):
        self.assertTrue(values_equal(None, NAN))
        self.assertTrue(values_equal(NAN, None))
        self.assertTrue(values_equal(NAN, NAN))
        self.assertTrue(values_equal(None, None))

    def test_a_null_differs_from_any_value(self):
        for v in (0, 0.0, "", False):
            self.assertFalse(values_equal(None, v), v)
            self.assertFalse(values_equal(v, None), v)
        self.assertFalse(values_equal(NAN, 0.0))
        self.assertFalse(values_equal(0.0, NAN))

    def test_negative_zero_equals_zero(self):
        self.assertTrue(values_equal(-0.0, 0.0))
        self.assertTrue(values_equal(0.0, -0.0))
        self.assertTrue(values_equal(-0.0, 0))

    def test_int_and_float_compare_by_value(self):
        self.assertTrue(values_equal(1, 1.0))
        self.assertTrue(values_equal(2.0, 2))
        self.assertFalse(values_equal(1, 1.5))
        self.assertFalse(values_equal(1.000001, 1))

    def test_non_numbers_compare_exactly(self):
        self.assertTrue(values_equal("a", "a"))
        self.assertFalse(values_equal("a", "A"))
        self.assertFalse(values_equal("1", 1))


if __name__ == "__main__":
    unittest.main()
