"""Guard: library code reads only the `graft.*` conf keys listed here.

Run: python3 -m unittest discover -s tools -p 'test_*.py'

Every `graft.*` key is a knob, and a knob survives only while something
needs both of its sides. Each entry below says why its key exists and
which spec or probe leg sets it. The guard fails when library code
(the set `test_sources.py` scans) names a key that is not listed, and
when a listed key is no longer read, so the list cannot go stale.
It also fails when a key is read other than through `graft.core.Knobs`,
which turns a malformed value into an error naming the key. Comment
lines are skipped, so scaladoc may still name retired keys.
"""
import os
import re
import unittest

from test_sources import GRAFT, scala_files

# key -> (why it exists, what sets it)
KEYS = {
    "graft.knn.maxBroadcastSurvivors": (
        "row bound on knnClassifyIvf's broadcast label attach; crawl-sized query sets "
        "must shuffle instead of OOMing the driver",
        "PipelineSpec \"knnClassifyIvf survivor broadcast is count-gated\""),
    "graft.broadcastVecMaxBytes": (
        "byte budget for broadcasting id -> vector payloads in the cosine verify and "
        "ivfTopK probe joins",
        "PipelineSpec \"exact-verify branch selection is bytes-adaptive\" and "
        "\"knnClassifyIvf survivor broadcast is count-gated\""),
    "graft.debug.assertDistinctIndex": (
        "debug-only distinctness check on chunkHashIndex-shaped inputs; off, plan "
        "construction runs no job",
        "CurationSpec \"sourceChunkOverlapFromIndex: non-distinct index pinned\""),
    "graft.containment.maxPairs": (
        "pair-traffic budget of the containment family; over it the exact answer is "
        "computed in waves",
        "PipelineSpec \"containment over budget\", \"containment two-level wave grid\" "
        "and the knob-reader case"),
    "graft.containment.maxSideAWaves": (
        "cap on side-A waves before the two-level side-B split",
        "PipelineSpec \"containment two-level wave grid\""),
    "graft.containment.waveDir": (
        "cluster-visible home for compressed parquet wave spills; unset, waves "
        "localCheckpoint",
        "PipelineSpec \"containment over budget\"; Probe legs docs and pipe"),
    "graft.prefix.maxRollingN": (
        "upper gate on the chunked rollingN window length; past it the sequential "
        "window form runs",
        "PrefixSpec \"rollingN gates\""),
    "graft.rankRep.maxWindowGroups": (
        "group-count boundary between rankRep's window and banded forms",
        "GroupOrderSpec \"banded rankRep equals the window form\"; Probe leg ord; FuzzDiff"),
}
KEY = re.compile(r'"(graft\.[A-Za-z0-9_.]+)"')


def keys_read():
    """{key: [(file, line number, code)]} for every `graft.*` key named in library code."""
    found = {}
    for path in scala_files():
        rel = os.path.relpath(path, GRAFT).replace(os.sep, "/")
        with open(path, encoding="utf-8") as f:
            for no, line in enumerate(f, 1):
                code = line.split("//")[0].strip()
                if code.startswith(("*", "/*")):
                    continue
                for key in KEY.findall(code):
                    found.setdefault(key, []).append((rel, no, code))
    return found


class ConfKeysGuardTest(unittest.TestCase):
    def test_library_reads_only_listed_keys(self):
        unlisted = {k: v for k, v in keys_read().items() if k not in KEYS}
        self.assertEqual(unlisted, {},
                         "list each graft.* key in tools/test_conf_keys.py with why it exists")

    def test_listed_keys_still_read(self):
        # an entry whose key is gone would let a retired knob come back unreviewed
        self.assertEqual(sorted(set(KEYS) - set(keys_read())), [])

    def test_keys_read_through_knobs(self):
        direct = [site for sites in keys_read().values() for site in sites
                  if "Knobs." not in site[2]]
        self.assertEqual(direct, [], "read graft.* keys with graft.core.Knobs")

    def test_pattern(self):
        self.assertEqual(KEY.findall('Knobs.long(spark, "graft.containment.maxPairs", 5L)'),
                         ["graft.containment.maxPairs"])
        self.assertEqual(KEY.findall('println(s"[graft] $tag: width")'), [])
        self.assertEqual(KEY.findall('graft.exprs.GraftFunctions.register(spark)'), [])


if __name__ == "__main__":
    unittest.main()
