#!/usr/bin/env python3
"""Count the non-comment Scala lines of the engine and scaling sources.

Usage: loc.py [repo root] [file ...]

With no files, prints one line per tree under the repo root (default: the
parent of this script's directory): the engine's `src/main` and `src/test`,
and the scaling harness's `scaling/src` (main and test), so code moved
between them shows on both sides:

  src/main  14211
  src/test  8166
  scaling/src  470

With files, prints each file's count instead, then their total.

A line counts unless it is blank, starts with `//`, or lies inside a
`/* ... */` block comment (scaladoc included). Code after a closing `*/` on
the same line still counts. A comment opened after code on a line is not
tracked: the line counts, and so do the block's further lines.
"""
import os
import sys


TREES = ("src/main", "src/test", "scaling/src")


def count_lines(text):
    """Non-comment lines of one Scala source text."""
    n = 0
    in_block = False
    for line in text.splitlines():
        s = line.strip()
        if in_block:
            end = s.find("*/")
            if end < 0:
                continue
            in_block = False
            s = s[end + 2:].strip()
        while s.startswith("/*"):
            end = s.find("*/", 2)
            if end < 0:
                in_block = True
                s = ""
            else:
                s = s[end + 2:].strip()
        if s and not s.startswith("//"):
            n += 1
    return n


def count_tree(root):
    """Summed count over every `.scala` file under `root`."""
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    total += count_lines(fh.read())
    return total


def main(argv):
    here = os.path.dirname(os.path.abspath(__file__))
    root = argv[1] if len(argv) > 1 else os.path.dirname(here)
    files = argv[2:]
    if files:
        total = 0
        for f in files:
            with open(os.path.join(root, f), encoding="utf-8") as fh:
                c = count_lines(fh.read())
            total += c
            print("%s  %d" % (f, c))
        print("total  %d" % total)
    else:
        for tree in TREES:
            print("%s  %d" % (tree, count_tree(os.path.join(root, tree))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
