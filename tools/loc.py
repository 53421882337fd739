#!/usr/bin/env python3
"""Line counts of a source tree, the same way for every tree.

Usage: python3 tools/loc.py <tree>

For each of src/main, src/test and tools under <tree>, prints the total
number of lines and the number of code lines: lines that are neither
blank nor comment. Scala and Java comments are `//` lines and `/* */`
blocks (scaladoc included); Python and shell comments are `#` lines.
A line holding code and a trailing comment counts as code. String
literals are not parsed, so a `/*` inside a string would open a block.
"""
import os
import sys

PARTS = ("src/main", "src/test", "tools")
SLASH = {".scala", ".java"}
HASH = {".py", ".sh"}


def count(path):
    """(total, code) lines of one file."""
    ext = os.path.splitext(path)[1]
    total = code = 0
    in_block = False
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            total += 1
            line = raw.strip()
            if ext in SLASH:
                rest = ""
                while line:
                    if in_block:
                        end = line.find("*/")
                        if end < 0:
                            line = ""
                        else:
                            in_block = False
                            line = line[end + 2:].strip()
                    elif line.startswith("/*"):
                        in_block = True
                        line = line[2:]
                    elif line.startswith("//"):
                        line = ""
                    else:
                        rest = line
                        line = ""
                if rest:
                    code += 1
            elif ext in HASH:
                if line and not line.startswith("#"):
                    code += 1
            elif line:
                code += 1
    return total, code


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__.strip())
    tree = argv[1]
    print(f"{'part':<10} {'files':>6} {'lines':>8} {'code':>8}")
    for part in PARTS:
        files = lines = code = 0
        root = os.path.join(tree, part)
        for d, dirs, names in os.walk(root):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for n in sorted(names):
                if os.path.splitext(n)[1] in SLASH | HASH:
                    t, c = count(os.path.join(d, n))
                    files += 1
                    lines += t
                    code += c
        print(f"{part:<10} {files:>6} {lines:>8} {code:>8}")


if __name__ == "__main__":
    main(sys.argv)
