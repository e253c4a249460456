#!/usr/bin/env python3
"""Measure oracle SQL copied between rows (report only, never fails).

Usage: python3 scripts/oracle_repeats.py [scalaFile ...]
       (default: src/main/scala/graft/queries/*.scala)

Slides a 4-line window over each file. A window counts when every one of
its lines, trimmed, starts with `|` (a line of a stripMargin SQL string).
Windows are compared by their trimmed text across all files. Prints:

  covered: the lines inside windows whose text occurs at two or more
           places;
  repeats: those of the covered lines that no first occurrence of a
           window covers -- the lines a named fragment would remove.

A fragment written once and interpolated where it is used shows up in
neither count.
"""
import glob
import os
import sys
from collections import defaultdict

WINDOW = 4


def windows(paths):
    """Map each window's trimmed text to its (file, first line) places."""
    places = defaultdict(list)
    for path in paths:
        with open(path) as f:
            lines = [l.strip() for l in f.read().split("\n")]
        for i in range(len(lines) - WINDOW + 1):
            text = tuple(lines[i:i + WINDOW])
            if all(l.startswith("|") for l in text):
                places[text].append((path, i))
    return places


def measure(paths):
    covered, first = set(), set()
    for where in windows(paths).values():
        if len(where) < 2:
            continue
        for n, (path, i) in enumerate(where):
            lines = {(path, i + d) for d in range(WINDOW)}
            covered |= lines
            if n == 0:
                first |= lines
    return len(covered), len(covered - first)


def main(argv):
    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    paths = argv or sorted(glob.glob(
        os.path.join(root, "src/main/scala/graft/queries/*.scala")))
    covered, repeats = measure(paths)
    print(f"oracle SQL repeats: {covered} lines in copied {WINDOW}-line "
          f"windows, {repeats} of them repeats")


if __name__ == "__main__":
    main(sys.argv[1:])
