#!/usr/bin/env python3
"""Report code runs that are written twice in `src/main`.

Each `.scala` file under `src/main` is read as its non-comment lines:
every line is trimmed and its whitespace collapsed, and blank lines and
lines starting with `//`, `*` or `/**` are skipped. A clone is a
maximal run of at least 6 such lines, together at least 200 characters
long, that occurs at two places. Each pair of places is printed once,
as

  path:line path:line  (N lines, M chars)

with the line numbers of each run's first line in the files, then a
summary line `R runs in F files`. A run that occurs k times prints
k * (k - 1) / 2 pairs.

Usage:  tools/clone_scan.py   (from any directory)
Exit 0 always; the report is the output.
"""
import os
import re
import sys
from collections import defaultdict

SPACE = re.compile(r"\s+")
MIN_LINES, MIN_CHARS = 6, 200


def code_lines(path):
    """(line number, normalised text) of each non-comment line."""
    out = []
    with open(path, encoding="utf-8", errors="replace") as f:
        for n, raw in enumerate(f, 1):
            line = SPACE.sub(" ", raw.strip())
            if not line or line.startswith(("//", "*", "/**")):
                continue
            out.append((n, line))
    return out


def scala_files(root):
    for d, _, names in os.walk(root):
        for name in sorted(names):
            if name.endswith(".scala"):
                yield os.path.join(d, name)


def clones(files):
    """Yield (a, b, lines, chars) for each maximal run pair, a < b, where
    a and b are (file index, position) of the run's first line."""
    text = [[t for _, t in ls] for ls in files]
    windows = defaultdict(list)
    for fi, ls in enumerate(text):
        for i in range(len(ls) - MIN_LINES + 1):
            windows[tuple(ls[i:i + MIN_LINES])].append((fi, i))
    for places in windows.values():
        for x in range(len(places)):
            for y in range(x + 1, len(places)):
                (fa, i), (fb, j) = places[x], places[y]
                # only the pair's start is reported: skip a window the
                # previous line already extends
                if i > 0 and j > 0 and text[fa][i - 1] == text[fb][j - 1]:
                    continue
                # a run may not overlap its own copy
                if fa == fb and i + MIN_LINES > j:
                    continue
                n = MIN_LINES
                while j + n < len(text[fb]) and (fa != fb or i + n < j) \
                        and text[fa][i + n] == text[fb][j + n]:
                    n += 1
                chars = sum(len(t) for t in text[fa][i:i + n])
                if chars >= MIN_CHARS:
                    yield (fa, i), (fb, j), n, chars


def main():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.chdir(repo)
    paths = list(scala_files(os.path.join("src", "main")))
    files = [code_lines(p) for p in paths]
    found = sorted(clones(files))
    touched = set()
    for (fa, i), (fb, j), n, chars in found:
        touched.update((fa, fb))
        print(f"{paths[fa]}:{files[fa][i][0]} {paths[fb]}:{files[fb][j][0]}"
              f"  ({n} lines, {chars} chars)")
    print(f"{len(found)} runs in {len(touched)} files")
    return 0


if __name__ == "__main__":
    sys.exit(main())
