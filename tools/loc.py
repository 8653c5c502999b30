#!/usr/bin/env python3
"""Count non-blank, non-comment lines of the main Scala sources.

Usage: python3 tools/loc.py [ROOT]   (default ROOT: src/main/scala)

Prints one `<lines>  <file>` row per .scala file under ROOT (sorted by
path), then one `<lines>  <dir>/` subtotal row per directory holding
.scala files (the files directly in it; `./` for ROOT itself), and a
final `<lines>  total` row. A line counts unless it is blank,
a `//` line comment, or lies inside a `/* ... */` block (scaladoc
included); a line that opens or closes a block comment but also carries
code outside it still counts.
"""
import os
import sys


def code_lines(text):
    n = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        code = False
        i = 0
        while i < len(line):
            if in_block:
                end = line.find("*/", i)
                if end < 0:
                    break
                in_block = False
                i = end + 2
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                in_block = True
                i += 2
            else:
                if not line[i].isspace():
                    code = True
                # skip a string literal so `"/*"` or `"//"` inside it
                # does not open a comment
                if line[i] == '"':
                    close = line.find('"', i + 1)
                    while close > 0 and line[close - 1] == "\\":
                        close = line.find('"', close + 1)
                    i = len(line) if close < 0 else close + 1
                else:
                    i += 1
        if code:
            n += 1
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main/scala"
    rows = []
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                with open(p, encoding="utf-8") as f:
                    rows.append((os.path.relpath(p, root), code_lines(f.read())))
    rows.sort()
    dirs = {}
    for p, n in rows:
        print(f"{n:7d}  {p}")
        d = os.path.dirname(p) or "."
        dirs[d] = dirs.get(d, 0) + n
    for d in sorted(dirs):
        print(f"{dirs[d]:7d}  {d}/")
    print(f"{sum(n for _, n in rows):7d}  total")


if __name__ == "__main__":
    main()
