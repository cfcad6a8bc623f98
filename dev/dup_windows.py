#!/usr/bin/env python3
"""Print the repeated 6-line windows in the Scala sources.

Every source line is whitespace-normalized (stripped, inner runs of
blanks collapsed) and blank lines are dropped. Each run of 6 consecutive
remaining lines is one window; a window whose text occurs at more than
one place is printed as a group of `file:line` locations (the line of
the window's first line). Windows made only of punctuation (closing
braces and parentheses) are skipped. The last line is the total number
of repeated window occurrences and of groups.

    python3 dev/dup_windows.py            # scans src/main/scala
    python3 dev/dup_windows.py some/dir   # scans another tree
"""

import os
import re
import sys
from collections import defaultdict

WINDOW = 6
BLANKS = re.compile(r"\s+")
WORDY = re.compile(r"[A-Za-z0-9]")


def lines_of(path):
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            text = BLANKS.sub(" ", raw.strip())
            if text:
                yield no, text


def windows(root):
    groups = defaultdict(list)
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if not name.endswith(".scala"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path)
            lines = list(lines_of(path))
            for i in range(len(lines) - WINDOW + 1):
                chunk = [t for _, t in lines[i:i + WINDOW]]
                if not any(WORDY.search(t) for t in chunk):
                    continue
                groups["\n".join(chunk)].append(f"{rel}:{lines[i][0]}")
    return {k: v for k, v in groups.items() if len(v) > 1}


def main(argv):
    here = os.path.dirname(os.path.abspath(__file__))
    root = argv[1] if len(argv) > 1 else os.path.join(here, "..", "src", "main", "scala")
    repeated = windows(root)
    total = 0
    for text, locs in sorted(repeated.items(), key=lambda kv: (-len(kv[1]), kv[1])):
        total += len(locs)
        print(f"{len(locs)}x  {text.splitlines()[0][:72]}")
        for loc in locs:
            print(f"    {loc}")
    print(f"total: {total} repeated windows in {len(repeated)} groups")


if __name__ == "__main__":
    main(sys.argv)
