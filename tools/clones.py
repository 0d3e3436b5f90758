#!/usr/bin/env python3
"""Copy-paste report for src/main: how many code lines are second copies.

A line counts once it sits in a window of 6 consecutive code lines that
already appeared earlier in the scan (files in path order, top to bottom).
Code lines are stripped; blank lines, `//` lines, `/* ... */` blocks and
lines made only of closing brackets and quotes are skipped, so a window
spans real code even across comments.

Prints the total of duplicated lines, then the count per file (largest
first). A report, not a gate: always exits 0.

Usage: python3 tools/clones.py [root]   (default: the repo's src/main)
"""
import os
import re
import sys
from collections import Counter

WINDOW = 6
CLOSERS = re.compile(r'^[)\]}"\'\s,;]*$')


def code_lines(path):
    """(line number, stripped text) for every code line of one file."""
    out, in_block = [], False
    with open(path, encoding="utf-8") as f:
        for n, raw in enumerate(f, 1):
            s = raw.strip()
            if in_block:
                if "*/" in s:
                    in_block = False
                continue
            if s.startswith("/*"):
                in_block = "*/" not in s
                continue
            if not s or s.startswith("//") or CLOSERS.match(s):
                continue
            out.append((n, s))
    return out


def main():
    here = os.path.dirname(os.path.abspath(__file__))
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        here, "..", "src", "main")
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
        if f.endswith((".scala", ".java")))
    seen = set()
    dup = Counter()
    for path in files:
        lines = code_lines(path)
        marked = set()
        for i in range(len(lines) - WINDOW + 1):
            key = tuple(s for _, s in lines[i:i + WINDOW])
            if key in seen:
                marked.update(n for n, _ in lines[i:i + WINDOW])
            else:
                seen.add(key)
        if marked:
            dup[os.path.relpath(path, root)] = len(marked)
    print(f"duplicated lines: {sum(dup.values())}")
    for name, n in dup.most_common():
        print(f"{n:6d}  {name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
