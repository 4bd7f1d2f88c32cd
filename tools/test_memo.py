"""Guard: library code declares an LRU memo only in graft.core.SessionMemo.

Run: python3 -m unittest discover -s tools -p 'test_*.py'

Build-time statistics go through `graft.core.Estimates` and inferred
schemas through `graft.io.Sources`; both keep their entries in the one
bounded per-session container, `SessionMemo`. A hand-rolled LRU map
elsewhere (a `LinkedHashMap` overriding `removeEldestEntry`) would bring
back a second key, eviction and failure rule for the same job. Library
code is the set `test_sources.py` scans. Comment lines are skipped.
"""
import os
import re
import unittest

from test_sources import GRAFT, scala_files

CONTAINER = "core/SessionMemo.scala"
EVICT = re.compile(r"\bremoveEldestEntry\b")


def lru_memos():
    """(file, line number, code) of every LRU eviction hook outside the container."""
    found = []
    for path in scala_files():
        rel = os.path.relpath(path, GRAFT).replace(os.sep, "/")
        if rel == CONTAINER:
            continue
        with open(path, encoding="utf-8") as f:
            for no, line in enumerate(f, 1):
                code = line.split("//")[0].strip()
                if code.startswith(("*", "/*")) or not EVICT.search(code):
                    continue
                found.append((rel, no, code))
    return found


class MemoGuardTest(unittest.TestCase):
    def test_one_lru_container(self):
        self.assertEqual(lru_memos(), [],
                         "memoize through graft.core.Estimates or SessionMemo, "
                         "not a LinkedHashMap of your own")

    def test_container_still_evicts(self):
        # if the container moved, the exemption above would cover nothing
        with open(os.path.join(GRAFT, CONTAINER), encoding="utf-8") as f:
            self.assertTrue(EVICT.search(f.read()), CONTAINER)

    def test_pattern(self):
        self.assertTrue(EVICT.search("override def removeEldestEntry("))
        self.assertTrue(EVICT.search("e: Entry[K, V]): Boolean = { removeEldestEntry"))
        self.assertFalse(EVICT.search("def removeEldest(e: Int)"))


if __name__ == "__main__":
    unittest.main()
