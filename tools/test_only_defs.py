#!/usr/bin/env python3
"""List src/main definitions that no main code calls.

Every `def`, `val` and `object` name defined in a tracked .scala file under
src/main is counted as whole words over the code-only lines of the tracked
.scala files under src/main and perfbench/harness/src and of tools/*.scala
(lines matching ^\\s*(//|\\*|/\\*\\*|\\*/) are comments and are skipped, so a
scaladoc mention is not a caller). A name whose only occurrence is its own
definition is printed with the file and line that define it: only the
tests, if anything, reach it.

Four kinds of definition are called without their name being written and
are never printed: `implicit` and `override` definitions, `apply`/`unapply`,
and objects in a file that defines `def main` (entry points are started by
class name).

Limits: names are not scoped, so a name defined twice (an overload, or two
objects with a `def` of the same name) counts both definitions as
occurrences and is never printed; check such names by reading the code.

Usage: python3 tools/test_only_defs.py [--root REPO]
"""
import argparse
import collections
import glob
import os
import re
import subprocess

COMMENT = re.compile(r"^\s*(//|\*|/\*\*|\*/)")
DEF = re.compile(r"\b(def|val|object)\s+([A-Za-z_]\w*)")
CALLED_BY_MODIFIER = re.compile(r"\b(implicit|override)\b")
ENTRY_POINT = re.compile(r"\bdef\s+main\b")
WORD = re.compile(r"[A-Za-z_]\w*")
CALLED_BY_SYNTAX = {"apply", "unapply"}
CALLERS = ["src/main", "perfbench/harness/src"]


def code_lines(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        return ["" if COMMENT.match(ln) else ln for ln in f.read().split("\n")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--root", default=".")
    a = ap.parse_args()

    tracked = subprocess.run(["git", "ls-files", *CALLERS], cwd=a.root, check=True,
                             capture_output=True, text=True).stdout.split()
    files = [f for f in tracked if f.endswith(".scala")] + sorted(
        os.path.relpath(p, a.root)
        for p in glob.glob(os.path.join(a.root, "tools", "*.scala")))

    occurrences = collections.Counter()
    defined = {}  # name -> (file, line) of its first definition
    for f in files:
        lines = code_lines(os.path.join(a.root, f))
        entry_point = any(ENTRY_POINT.search(ln) for ln in lines)
        for i, ln in enumerate(lines, 1):
            occurrences.update(WORD.findall(ln))
            if not f.startswith("src/main/"):
                continue
            for m in DEF.finditer(ln):
                kind, name = m.group(1), m.group(2)
                if (CALLED_BY_MODIFIER.search(ln, 0, m.start()) or name in CALLED_BY_SYNTAX
                        or (kind == "object" and entry_point)):
                    continue
                defined.setdefault(name, (f, i))
    for name, (f, i) in sorted(defined.items(), key=lambda kv: kv[1]):
        if occurrences[name] == 1:
            print(f"{f}:{i}: {name}")


if __name__ == "__main__":
    main()
