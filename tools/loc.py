#!/usr/bin/env python3
"""Non-comment line counts for source files.

Usage: tools/loc.py <path>...

Each path is a file or a directory (searched recursively for .scala,
.java and .py files). Prints one `<count>\t<file>` line per file and a
final `<count>\ttotal` line. A line counts unless it is blank, a `//`
or `#` line comment, or part of a `/* ... */` block (scaladoc
included) that starts the line.
"""
import os
import sys

EXTENSIONS = (".scala", ".java", ".py")


def count(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.strip()
            if in_block:
                in_block = "*/" not in line
                continue
            if not line or line.startswith("//") or line.startswith("#"):
                continue
            if line.startswith("/*"):
                in_block = "*/" not in line[2:]
                continue
            n += 1
    return n


def files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, names in os.walk(p):
                dirs.sort()
                for name in sorted(names):
                    if name.endswith(EXTENSIONS):
                        yield os.path.join(root, name)
        else:
            yield p


def main(argv):
    if not argv:
        sys.exit(__doc__.strip())
    total = 0
    for path in files(argv):
        n = count(path)
        total += n
        print(f"{n}\t{path}")
    print(f"{total}\ttotal")


if __name__ == "__main__":
    main(sys.argv[1:])
