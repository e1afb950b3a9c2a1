#!/usr/bin/env python3
"""Count code lines in Scala sources.

A code line is a non-blank line whose first non-space characters are not
`//`, `/**` or `*` (so scaladoc bodies and line comments do not count).
Prints one `<lines>  <file>` row per file, sorted by path, then the total.

Usage: python3 scripts/code_lines.py [PATH ...]
PATH is a .scala file or a directory searched recursively; the default is
src/main/scala, relative to the repository root.
"""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COMMENT_PREFIXES = ("//", "/**", "*")


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f
                   if line.strip() and not line.lstrip().startswith(COMMENT_PREFIXES))


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    found = []
    for root, _, names in os.walk(path):
        found.extend(os.path.join(root, n) for n in names if n.endswith(".scala"))
    return found


def main(argv):
    paths = argv or [os.path.join(REPO, "src", "main", "scala")]
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        sys.exit(f"code_lines.py: no such path: {', '.join(missing)}")
    files = sorted({f for p in paths for f in scala_files(p)})
    total = 0
    for f in files:
        n = code_lines(f)
        total += n
        print(f"{n:7d}  {os.path.relpath(f)}")
    print(f"{total:7d}  total ({len(files)} files)")


if __name__ == "__main__":
    main(sys.argv[1:])
