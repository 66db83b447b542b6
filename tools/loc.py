#!/usr/bin/env python3
"""Non-comment line counts of Scala sources.

Usage: python3 tools/loc.py <path>...

Each path is a file or a directory (searched recursively for *.scala).
Prints one line per file, then the total. A line counts unless it is
blank, a `//` line comment, or part of a `/* ... */` or `/** ... */`
block comment (scaladoc). Code followed by a trailing `//` comment on
the same line counts.
"""
import os
import sys


def count(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if in_block:
                if "*/" in s:
                    in_block = False
                continue
            if not s or s.startswith("//"):
                continue
            if s.startswith("/*"):
                in_block = "*/" not in s
                continue
            n += 1
    return n


def files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in sorted(os.walk(p)):
                for name in sorted(names):
                    if name.endswith(".scala"):
                        yield os.path.join(root, name)
        else:
            yield p


def main(argv):
    if not argv:
        sys.exit(__doc__.strip().splitlines()[2])
    total = 0
    for path in files(argv):
        n = count(path)
        total += n
        print(f"{n:7d}  {path}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
