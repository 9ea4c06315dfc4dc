#!/usr/bin/env python3
"""Count the non-comment lines of the Scala sources under src/main.

A line counts unless it is blank, starts with `//`, or lies in a
`/* ... */` block that starts at the beginning of a line (scaladoc and
block comments, the opening and closing lines included). Code that
shares a line with a comment counts.

    python3 tools/sloc.py [root]      # root defaults to the repo root

Prints one `<lines>  <path>` row per file, largest first, then
`total <lines>`.
"""
import os
import sys


def sloc(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if in_block:
                in_block = "*/" not in line
            elif not line or line.startswith("//"):
                pass
            elif line.startswith("/*"):
                in_block = "*/" not in line[2:]
            else:
                n += 1
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), os.pardir)
    src = os.path.join(root, "src", "main")
    rows = []
    for d, _, files in os.walk(src):
        for name in files:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                rows.append((sloc(p), os.path.relpath(p, root)))
    for n, p in sorted(rows, key=lambda r: (-r[0], r[1])):
        print(f"{n:7d}  {p}")
    print(f"total {sum(n for n, _ in rows)}")


if __name__ == "__main__":
    main()
