"""Guard: library code reads file sources only through graft.io.Sources.

Run: python3 -m unittest discover -s tools -p 'test_*.py'

`Sources.read` infers each file version's schema once per session; a
direct `spark.read` in library code would bring back the footer, header
and inference jobs it saves at every DataFrame build. Library code is
`graft/{core,io,pipeline,streaming,queries}` and `graft/Tables.scala`;
probe, bench and fuzz mains are out of scope. Comment lines are skipped,
so scaladoc may still name `spark.read`.
"""
import os
import re
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
GRAFT = os.path.join(os.path.dirname(HERE), "src", "main", "scala", "graft")
LIBRARY = ["core", "io", "pipeline", "streaming", "queries", "Tables.scala"]
READER = "io/Sources.scala"
# (file, exact code) -> why it may call spark.read itself
ALLOWED = {
    ("pipeline/Dedup.scala", "spark.read.parquet(dir)"):
        "reads back a scratch directory it has just written, whose files are new on every "
        "call, so a schema memo could never hit",
}
# a DataFrameReader: `.read` not followed by an identifier character
# (`readStream` is not one) and not `Sources.read` itself
READ = re.compile(r"(?<!\bSources)\.read\b")


def scala_files():
    for entry in LIBRARY:
        path = os.path.join(GRAFT, entry)
        if os.path.isfile(path):
            yield path
        for root, _, names in os.walk(path):
            for n in sorted(names):
                if n.endswith(".scala"):
                    yield os.path.join(root, n)


def direct_reads():
    """(file, line number, code) of every direct reader call in library code."""
    found = []
    for path in scala_files():
        rel = os.path.relpath(path, GRAFT).replace(os.sep, "/")
        if rel == READER:
            continue
        with open(path, encoding="utf-8") as f:
            for no, line in enumerate(f, 1):
                code = line.split("//")[0].strip()
                if code.startswith(("*", "/*")) or not READ.search(code):
                    continue
                if (rel, code) not in ALLOWED:
                    found.append((rel, no, code))
    return found


class SourcesGuardTest(unittest.TestCase):
    def test_library_reads_go_through_sources(self):
        self.assertEqual(direct_reads(), [],
                         "read file sources with graft.io.Sources.read, not spark.read")

    def test_allowed_reads_still_exist(self):
        # an allow-list entry whose code is gone would silently widen the guard
        for rel, code in ALLOWED:
            with open(os.path.join(GRAFT, rel), encoding="utf-8") as f:
                self.assertIn(code, {ln.split("//")[0].strip() for ln in f}, rel)

    def test_pattern(self):
        self.assertTrue(READ.search("val df = spark.read.parquet(p)"))
        self.assertTrue(READ.search("df.sparkSession.read"))
        self.assertFalse(READ.search("spark.readStream.schema(s).parquet(p)"))
        self.assertFalse(READ.search('Sources.read(spark, "csv", p)'))
        self.assertFalse(READ.search('graft.io.Sources.read(spark, "csv", p)'))


if __name__ == "__main__":
    unittest.main()
