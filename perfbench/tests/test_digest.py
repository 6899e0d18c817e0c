import datetime
import decimal
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import digest  # noqa: E402

NAMES = ["b", "a", "c", "t", "m"]
TYPES = ["VARCHAR", "DOUBLE", "INTEGER[]", "TIMESTAMP", "MAP(VARCHAR, VARCHAR)"]
ROWS = [("x", -0.0, [1, 2], datetime.datetime(2024, 1, 1, 0, 0, 0, 1), {"k": "v", "a": "z"}),
        ("y", float("nan"), [], None, {})]


class DigestTest(unittest.TestCase):
    def test_matches_scala_digest_of_same_result(self):
        # same vectors as perfbench/src/test/scala/perfbench/DigestSpec.scala
        self.assertEqual(digest.digest(NAMES, ROWS, TYPES), "09bdd036ea70003331096628")
        self.assertEqual(digest.digest(["x"], []), "2d711642b726b04401627ca9")

    def test_column_and_row_order_do_not_matter(self):
        perm = [3, 0, 4, 2, 1]
        rows = [tuple(r[i] for i in perm) for r in reversed(ROWS)]
        self.assertEqual(digest.digest([NAMES[i] for i in perm], rows, [TYPES[i] for i in perm]),
                         digest.digest(NAMES, ROWS, TYPES))

    def test_negative_zero_and_nan(self):
        self.assertEqual(digest.token(-0.0), digest.token(0.0))
        self.assertEqual(digest.token(float("nan")), "fnan")
        self.assertEqual(digest.token(1.0), "f3ff0000000000000")

    def test_timestamps_dates_and_zones(self):
        self.assertEqual(digest.token(datetime.datetime(2024, 1, 1, 0, 0, 0, 1)), "T1704067200000001")
        self.assertEqual(digest.token(datetime.datetime(1969, 12, 31, 23, 59, 59, 500000)), "T-500000")
        aware = datetime.datetime(2024, 1, 1, 1, 0, 0, 1,
                                  tzinfo=datetime.timezone(datetime.timedelta(hours=1)))
        self.assertEqual(digest.token(aware), "T1704067200000001")
        self.assertEqual(digest.token(datetime.date(1970, 1, 2)), "D1")

    def test_arrays_maps_structs_strings(self):
        self.assertEqual(digest.token([2, 1], "INTEGER[]"), "[i2,i1]")
        t = "MAP(VARCHAR, INTEGER)"
        self.assertEqual(digest.token({"b": 1, "a": 2}, t), digest.token({"a": 2, "b": 1}, t))
        self.assertEqual(digest.token({"key": ["a"], "value": [2]}, t), "{s1:a=i2}")
        self.assertEqual(digest.token({"i": 1, "s": "x"}, "STRUCT(i INTEGER, s VARCHAR)"), "(i1,s1:x)")
        self.assertEqual(digest.token("a|b"), "s3:a|b")
        self.assertEqual(digest.token(True), "b1")
        # decimals compare by value with doubles, as the DuckDB parity check does
        self.assertEqual(digest.token(decimal.Decimal("1.50")), digest.token(1.5))
        self.assertEqual(digest.token(decimal.Decimal("0.1")), digest.token(0.1))

    def test_values_change_the_digest(self):
        rows = [("x", 0.5) + ROWS[0][2:], ROWS[1]]
        self.assertNotEqual(digest.digest(NAMES, rows, TYPES), digest.digest(NAMES, ROWS, TYPES))


if __name__ == "__main__":
    unittest.main()
