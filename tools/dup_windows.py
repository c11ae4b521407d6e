#!/usr/bin/env python3
"""Count duplicated code-only windows in src/main.

Each tracked file under src/main is reduced to its code-only lines: blank
lines and lines matching ^\\s*(//|\\*|/\\*\\*|\\*/) are dropped and the rest
are trimmed. Every run of WINDOW (6) consecutive such lines is joined with
newlines into a window; a window of at least MIN_CHARS (150) characters
that occurs at least twice anywhere in src/main counts as duplicated. The
script prints the number of distinct duplicated windows and, per file, how
many of its windows are duplicated.

Usage: python3 tools/dup_windows.py [--root REPO]
"""
import argparse
import collections
import os
import re
import subprocess

COMMENT = re.compile(r"^\s*(//|\*|/\*\*|\*/)")
WINDOW = 6
MIN_CHARS = 150


def code_lines(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        return [ln.strip() for ln in f.read().split("\n")
                if ln.strip() and not COMMENT.match(ln)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--root", default=".")
    a = ap.parse_args()

    files = subprocess.run(["git", "ls-files", "src/main"], cwd=a.root, check=True,
                           capture_output=True, text=True).stdout.split()
    where = collections.defaultdict(list)  # window -> files it occurs in
    for f in files:
        lines = code_lines(os.path.join(a.root, f))
        for i in range(len(lines) - WINDOW + 1):
            w = "\n".join(lines[i:i + WINDOW])
            if len(w) >= MIN_CHARS:
                where[w].append(f)
    dups = {w: locs for w, locs in where.items() if len(locs) >= 2}

    per_file = collections.Counter()
    for locs in dups.values():
        for f in set(locs):
            per_file[f] += 1
    print(f"duplicated windows: {len(dups)}")
    for f, n in sorted(per_file.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"  {n:5d}  {f}")


if __name__ == "__main__":
    main()
