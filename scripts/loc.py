#!/usr/bin/env python3
"""Count non-blank, non-comment lines of the main Scala sources.

Usage: python3 scripts/loc.py              (the whole of src/main/scala)
       python3 scripts/loc.py PATH [PATH ...]

With no argument it prints the total, then one line per package
directory (relative to src/main/scala), largest first. With arguments,
each a `.scala` file or a directory, it prints one `<count> <path>` line
per argument (a directory counts every `.scala` file under it). A line counts unless it is blank, a `//` line comment, or lies
inside a `/* ... */` block comment (code after the closing `*/` on the
same line counts).
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


def scala_files(root):
    """`root` itself if it is a file, else every `.scala` file under it."""
    if os.path.isfile(root):
        return [root]
    return [os.path.join(d, name) for d, _, files in os.walk(root)
            for name in files if name.endswith(".scala")]


def main():
    if len(sys.argv) > 1:
        for path in sys.argv[1:]:
            print(f"{sum(map(count_file, scala_files(path)))} {path}")
        return
    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "src", "main", "scala")
    per = collections.Counter()
    for path in scala_files(root):
        per[os.path.relpath(os.path.dirname(path), root)] += count_file(path)
    print(f"total {sum(per.values())}")
    for pkg, n in sorted(per.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{pkg} {n}")


if __name__ == "__main__":
    main()
