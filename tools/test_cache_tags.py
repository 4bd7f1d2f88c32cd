"""Guard: library code persists only under the `CacheRegistry.track` tags listed here.

Run: python3 -m unittest discover -s tools -p 'test_*.py'

A tracked persist is not free in a warm session. Spark plans each cached
frame in a clone of the session, and the stages compiled there are not
shared with the next pass, so a persist that runs on every pass compiles
its stages again on every pass. Each entry below says why its persist
exists, which query or leg runs it, and whether the cached plan holds an
exchange (read from the frame's physical plan): a shuffle in the cached
plan is work that consumers could instead share through exchange reuse,
as `Dedup.simhashClusters` does. The guard fails when library code (the
set `test_sources.py` scans) tracks a tag that is not listed, and when a
listed tag is no longer tracked. Tags are written as in the code, with
their `s"..."` interpolation; comment lines are skipped.
"""
import os
import re
import unittest

from test_sources import GRAFT, scala_files

# tag -> (why the persist exists, what runs it, exchange in the cached plan)
TAGS = {
    "qualityGateApprox.scored": (
        "the regexp-heavy quality score feeds both the per-group threshold and "
        "the final filter",
        "TextOps.qualityGateAuto above 50M rows (no registered query); Probe leg "
        "pipe; CurationSpec",
        "no: a projection of the input"),
    "sourceChunkOverlapIncremental.fresh": (
        "the batch's new chunk hashes feed the membership union and the delta join",
        "q88",
        "yes: the chunk-hash distinct's exchange on (source, chunk_hash); the index "
        "side of the anti-join is broadcast. Measured (graft.Probe jobs sf0.1 reps=3 "
        "q88, one query per JVM): warm reps 2 / 3 recompile 15 / 15 classes and run "
        "16 force jobs, the cost the exchange-reuse rewrite would remove"),
    "bloomNewDocs.tagged": (
        "the batch with its bloom verdict is read by the pass-through branch and "
        "by the anti-join branch, so the batch is scanned and probed once",
        "q85; StreamFuzz",
        "no: a projection of the batch"),
    "$tag.gdf": (
        "the gram document frequencies feed the pair-mass estimate, the cap "
        "report and the vocabulary join (tags containmentPairs.gdf and "
        "winnowOverlapPairs.gdf)",
        "q89 (containmentPairs), q100 (winnowOverlapPairs)",
        "yes: the per-gram groupBy's exchange on g. Measured (graft.Probe jobs sf0.1 "
        "reps=3, one query per JVM): warm reps 2 / 3 recompile 13 / 8 classes on q89 "
        "and 15 / 10 on q100, and both run 20 force jobs against 15 cold, the cost "
        "the exchange-reuse rewrite would remove"),
    "$tag.features": (
        "over the pair budget every wave re-reads the capped feature frame",
        "containmentPairs and winnowOverlapPairs in waves only (no registered "
        "query at its default budget); PipelineSpec \"containment over budget\"",
        "broadcast only: the vocabulary join reads gdf's tracked cache"),
}
TRACK = re.compile(r'CacheRegistry\.track\(\s*s?"([^"]+)"')


def tags_tracked():
    """{tag: [(file, line number)]} for every `CacheRegistry.track` call in library code."""
    found = {}
    for path in scala_files():
        rel = os.path.relpath(path, GRAFT).replace(os.sep, "/")
        with open(path, encoding="utf-8") as f:
            for no, line in enumerate(f, 1):
                code = line.split("//")[0].strip()
                if code.startswith(("*", "/*")):
                    continue
                for tag in TRACK.findall(code):
                    found.setdefault(tag, []).append((rel, no))
    return found


class CacheTagsGuardTest(unittest.TestCase):
    def test_library_tracks_only_listed_tags(self):
        unlisted = {t: v for t, v in tags_tracked().items() if t not in TAGS}
        self.assertEqual(unlisted, {},
                         "list each tracked tag in tools/test_cache_tags.py with why it exists")

    def test_listed_tags_still_tracked(self):
        # an entry whose persist is gone would let it come back unreviewed
        self.assertEqual(sorted(set(TAGS) - set(tags_tracked())), [])

    def test_pattern(self):
        self.assertEqual(TRACK.findall('CacheRegistry.track("bloomNewDocs.tagged",'),
                         ["bloomNewDocs.tagged"])
        self.assertEqual(TRACK.findall('graft.core.CacheRegistry.track(s"$tag.gdf",'),
                         ["$tag.gdf"])
        self.assertEqual(TRACK.findall("println(s\"CacheRegistry.track('$tag'): failed\")"), [])


if __name__ == "__main__":
    unittest.main()
