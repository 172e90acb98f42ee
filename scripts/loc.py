#!/usr/bin/env python3
"""Count non-blank, non-comment lines of the main Scala sources.

Usage: python3 scripts/loc.py [root]    (root defaults to src/main/scala)

Prints the total, then one line per package directory (relative to the
root), largest first. A line counts unless it is blank, a `//` line
comment, or lies inside a `/* ... */` block comment (code after the
closing `*/` on the same line counts).
"""
import collections
import os
import sys


def count_file(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if in_block:
                if "*/" not in s:
                    continue
                in_block = False
                s = s.split("*/", 1)[1].strip()
            elif s.startswith("/*"):
                if "*/" not in s[2:]:
                    in_block = True
                    continue
                s = s[2:].split("*/", 1)[1].strip()
            if s and not s.startswith("//"):
                n += 1
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "src", "main", "scala")
    per = collections.Counter()
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".scala"):
                per[os.path.relpath(d, root)] += count_file(os.path.join(d, name))
    print(f"total {sum(per.values())}")
    for pkg, n in sorted(per.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{pkg} {n}")


if __name__ == "__main__":
    main()
