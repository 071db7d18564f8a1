#!/usr/bin/env python3
"""Count non-comment lines of main code, per file and in total.

A line counts when it is not blank and, after leading whitespace, does
not start with `//`, `/*` or `*` (the scaladoc body). Run from anywhere:

    python3 scripts/loc.py            # counts src/main of this checkout
    python3 scripts/loc.py path/to/src/main
"""
import os
import sys


def count(path):
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if s and not s.startswith(("//", "/*", "*")):
                n += 1
    return n


def main():
    here = os.path.dirname(os.path.abspath(__file__))
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(here, "..", "src", "main")
    root = os.path.normpath(root)
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(root)
                   for f in fs if f.endswith((".scala", ".java")))
    total = 0
    for p in files:
        n = count(p)
        total += n
        print(f"{n:7d}  {os.path.relpath(p, root)}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main()
