#!/usr/bin/env python3
"""Count code lines in Scala sources: non-blank lines that are not comments.

Usage: python3 tools/sloc.py <file-or-dir>...

A line is excluded when it is blank, starts with `//`, or lies wholly
inside a `/* ... */` block (Scaladoc included). A line that carries code
before or after a block comment counts. Directories are searched
recursively for `*.scala`. Prints one `<lines> <path>` row per file and
a `<lines> total` row.
"""
import os
import sys


def code_lines(text):
    n = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        code = False
        i = 0
        while i < len(line):
            if in_block:
                end = line.find("*/", i)
                if end < 0:
                    i = len(line)
                else:
                    in_block = False
                    i = end + 2
            elif line.startswith("/*", i):
                in_block = True
                i += 2
            elif line.startswith("//", i):
                break
            elif line[i] == '"':
                # skip a string literal so `"//"` or `"/*"` inside it is code
                code = True
                j = i + 1
                while j < len(line) and line[j] != '"':
                    j += 2 if line[j] == "\\" else 1
                i = j + 1
            else:
                if not line[i].isspace():
                    code = True
                i += 1
        n += code
    return n


def scala_files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, files in os.walk(p):
                dirs.sort()
                for f in sorted(files):
                    if f.endswith(".scala"):
                        yield os.path.join(root, f)
        else:
            yield p


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for path in scala_files(argv):
        with open(path, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:6d} {path}")
    print(f"{total:6d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
