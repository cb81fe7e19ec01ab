import datetime
import decimal
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import fingerprint  # noqa: E402
import run  # noqa: E402

ROWS = [
    (1, "a", 1.5),
    (2, "b", None),
    (3, "ünï", float("nan")),
]


class Fingerprint(unittest.TestCase):
    def test_row_order_does_not_matter(self):
        a = fingerprint.fingerprint(["k", "s", "x"], ROWS)
        b = fingerprint.fingerprint(["k", "s", "x"], list(reversed(ROWS)))
        self.assertEqual(a, b)

    def test_column_order_does_not_matter(self):
        a = fingerprint.fingerprint(["k", "s", "x"], ROWS)
        b = fingerprint.fingerprint(["x", "k", "s"], [(r[2], r[0], r[1]) for r in ROWS])
        self.assertEqual(a, b)

    def test_duplicates_and_values_count(self):
        base = fingerprint.fingerprint(["k"], [(1,), (2,)])
        self.assertNotEqual(base, fingerprint.fingerprint(["k"], [(1,), (1,), (2,)]))
        self.assertNotEqual(base[1], fingerprint.fingerprint(["k"], [(1,), (3,)])[1])
        # framing keeps ("ab", "c") apart from ("a", "bc")
        self.assertNotEqual(fingerprint.fingerprint(["a", "b"], [("ab", "c")])[1],
                            fingerprint.fingerprint(["a", "b"], [("a", "bc")])[1])

    def test_encodings(self):
        self.assertEqual(fingerprint.encode(None), "N")
        self.assertEqual(fingerprint.encode(True), "B1")
        self.assertEqual(fingerprint.encode(-7), "I-7")
        self.assertEqual(fingerprint.encode(1.0), "F3ff0000000000000")
        self.assertEqual(fingerprint.encode(float("nan")), "F7ff8000000000000")
        self.assertEqual(fingerprint.encode(decimal.Decimal("12.3400")), "D12.34")
        self.assertEqual(fingerprint.encode(datetime.date(2024, 1, 2)), "d2024-01-02")
        self.assertEqual(fingerprint.encode(datetime.datetime(1970, 1, 1, 0, 0, 1, 5)), "t1000005")
        self.assertEqual(fingerprint.encode(datetime.datetime(1969, 12, 31, 23, 59, 59)), "t-1000000")
        self.assertEqual(fingerprint.encode([1, None]), "[2:I11:N")


def _classpath():
    path = os.path.join(run.STATE, "build", "classpath")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return f.read()


@unittest.skipIf(_classpath() is None, "benchmark program not built (run perfbench/run.py once)")
class MatchesScala(unittest.TestCase):
    """The Scala fingerprint of Spark's rows equals the Python fingerprint of
    DuckDB's rows for the same parquet file, across the value types."""

    def test_same_file_same_fingerprint(self):
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq
        tab = pa.table({
            "i32": pa.array([1, None, -3], pa.int32()),
            "i64": pa.array([2**40, 0, -1], pa.int64()),
            "f32": pa.array([0.1, None, -2.5], pa.float32()),
            "f64": [0.1, float("nan"), -0.0],
            "s": ["x", "ünï", None],
            "b": [True, False, None],
            "d": pa.array([datetime.date(1969, 7, 20), datetime.date(2024, 2, 29), None]),
            "ts": pa.array([datetime.datetime(2024, 1, 1, 0, 0, 11, 172425),
                            datetime.datetime(1960, 5, 6, 7, 8, 9, 1), None], pa.timestamp("us")),
            "tz": pa.array([datetime.datetime(2024, 1, 1, 0, 0, 11, 172425),
                            datetime.datetime(1960, 5, 6, 7, 8, 9, 1), None],
                           pa.timestamp("us", tz="UTC")),
            "dec": pa.array([decimal.Decimal("1.500"), decimal.Decimal("0"), None],
                            pa.decimal128(10, 3)),
            "arr": pa.array([[1, 2], [], None], pa.list_(pa.int64())),
            "st": pa.array([{"a": 1, "b": "p"}, {"a": None, "b": "q"}, None],
                           pa.struct([("a", pa.int32()), ("b", pa.string())])),
        })
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "t.parquet")
            pq.write_table(tab, path)
            cur = duckdb.connect().execute(f"SELECT * FROM '{path}'")
            want = fingerprint.fingerprint([c[0] for c in cur.description], cur.fetchall())
            p = subprocess.run(
                ["java", "-XX:-UsePerfData"] + run.ADD_OPENS +
                ["-cp", _classpath(), "perfbench.FingerprintFile", path],
                capture_output=True, text=True)
            self.assertEqual(p.returncode, 0, p.stderr[-3000:])
            got = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual((got["rows"], got["hash"], got["columns"]), want)


if __name__ == "__main__":
    unittest.main()
