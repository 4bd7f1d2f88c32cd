"""Guard: library code leaves the session's conf as it found it.

Run: python3 -m unittest discover -s tools -p 'test_*.py'

Queries share one session (Verify runs four at once), so an operator that
writes `spark.conf` changes the plans of every query built while the write
stands. Library code is the same set `test_sources.py` scans; probe, bench
and fuzz mains set their own session's conf and are out of scope. Comment
lines are skipped, so scaladoc may still name `conf.set`.
"""
import os
import re
import unittest

from test_sources import GRAFT, scala_files

# (file, exact code) -> why it may write the session conf
ALLOWED = {
    ("io/Sources.scala",
     'if (spark.conf.get(NanosAsLong, "false") != "true") spark.conf.set(NanosAsLong, "true")'):
        "Sources.nanosAsLong: parquet TIMESTAMP(NANOS) columns read only under a legacy "
        "flag that Spark takes from the session alone; it writes the flag only while it "
        "is not already true, so concurrent queries see no repeated writes",
}
WRITE = re.compile(r"\bconf\.(set|unset)\(")


def conf_writes():
    """(file, line number, code) of every session-conf write in library code."""
    found = []
    for path in scala_files():
        rel = os.path.relpath(path, GRAFT).replace(os.sep, "/")
        with open(path, encoding="utf-8") as f:
            for no, line in enumerate(f, 1):
                code = line.split("//")[0].strip()
                if code.startswith(("*", "/*")) or not WRITE.search(code):
                    continue
                if (rel, code) not in ALLOWED:
                    found.append((rel, no, code))
    return found


class SessionConfGuardTest(unittest.TestCase):
    def test_library_code_writes_no_session_conf(self):
        self.assertEqual(conf_writes(), [],
                         "library code must not write spark.conf: pass settings explicitly")

    def test_allowed_writes_still_exist(self):
        # an allow-list entry whose code is gone would silently widen the guard
        for rel, code in ALLOWED:
            with open(os.path.join(GRAFT, rel), encoding="utf-8") as f:
                self.assertIn(code, {ln.split("//")[0].strip() for ln in f}, rel)

    def test_pattern(self):
        self.assertTrue(WRITE.search('spark.conf.set("spark.sql.adaptive.enabled", "false")'))
        self.assertTrue(WRITE.search('df.sparkSession.conf.unset("k")'))
        self.assertFalse(WRITE.search('spark.conf.get("spark.sql.shuffle.partitions")'))
        self.assertFalse(WRITE.search("spark.sessionState.conf.numShufflePartitions"))


if __name__ == "__main__":
    unittest.main()
