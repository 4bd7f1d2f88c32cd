"""Tests for tools/normalize.py.

Run: python3 -m unittest discover -s tools -p 'test_*.py'

The artifacts below have the BENCH_DETAIL.json shape graft.Bench emits,
so a field normalize.py reads (`queries`, `min_at`, `canary_series`,
`canary_sec`) cannot disappear from it unnoticed.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import normalize  # noqa: E402


def artifact(queries, min_at, series, canary_sec):
    """A minimal BENCH_DETAIL record: the fields normalize.py reads plus a
    one-rep log per query, as the bench writes it."""
    return {
        "metric": "total", "value": sum(queries.values()), "unit": "sec",
        "queries": queries, "first": queries, "failed": [], "failed_dirty": [],
        "errors": {}, "loaded": False, "min_at": min_at,
        "canary_sec": canary_sec, "canary_series": series,
        "reps": [{"q": q, "round": 0, "t": min_at[q], "dt": s, "ok": True, "err": "",
                  "ext": 0.0, "io": 0.0, "build_s": s / 2, "force_s": s / 2}
                 for q, s in queries.items()],
        "partial": False,
    }


class CanaryAtTest(unittest.TestCase):
    def test_nearest_point(self):
        series = [[0, 0.5], [30, 0.9], [60, 0.4]]
        self.assertEqual(normalize.canary_at(series, 0.45, 20), 0.9)
        self.assertEqual(normalize.canary_at(series, 0.45, 50), 0.4)
        self.assertEqual(normalize.canary_at(series, 0.45, -5), 0.5)

    def test_anchor_fallback(self):
        self.assertEqual(normalize.canary_at([], 0.45, 20), 0.45)
        self.assertIsNone(normalize.canary_at([], -1.0, 20))
        self.assertIsNone(normalize.canary_at([], None, 20))


class NormalizeRunTest(unittest.TestCase):
    def test_two_artifacts(self):
        # B's host ran 2x slower around q01's min and at par around q02's:
        # q01's 2x raw ratio normalizes to 1.0, q02's 1.5x stays 1.5
        a = artifact({"q01_agg": 1.0, "q02_filter": 2.0},
                     {"q01_agg": 10.0, "q02_filter": 50.0},
                     [[0.0, 0.5], [45.0, 0.5]], 0.5)
        b = artifact({"q01_agg": 2.0, "q02_filter": 3.0, "q03_new": 1.0},
                     {"q01_agg": 12.0, "q02_filter": 48.0, "q03_new": 60.0},
                     [[0.0, 1.0], [45.0, 0.5]], 0.5)
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for name, rec in (("a.json", a), ("b.json", b)):
                paths.append(os.path.join(d, name))
                with open(paths[-1], "w") as f:
                    json.dump(rec, f)
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "normalize.py"), *paths],
                capture_output=True, text=True, check=True).stdout
        self.assertIn("common queries: 2", out)
        rows = {ln.split()[0]: ln.split()[1:] for ln in out.splitlines()
                if ln.startswith("q0")}
        self.assertEqual(rows["q01_agg"], ["1.00", "2.00", "2.00", "2.00", "1.00"])
        self.assertEqual(rows["q02_filter"], ["2.00", "3.00", "1.50", "1.00", "1.50"])
        # totals: A 3.0 s, B 5.0 s raw, 1.0 + 3.0 = 4.0 s normalized
        self.assertIn("raw B/A = 1.667", out)
        self.assertIn("norm B/A = 1.333", out)


if __name__ == "__main__":
    unittest.main()
