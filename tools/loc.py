#!/usr/bin/env python3
"""Count Scala code lines: non-blank lines that are not comments.

A line counts as a comment when, after leading whitespace, it starts
with `//`, `/**`, `*` or `*/` (scaladoc bodies and line comments; a
code line with a trailing comment still counts as code).

Usage:
  python3 tools/loc.py PATH [PATH ...]        # per-file counts + total
  git show REV:PATH | python3 tools/loc.py -  # '-' reads stdin

A directory PATH stands for every `*.scala` file under it, recursively,
in sorted path order.
"""
import os
import sys

COMMENT_PREFIXES = ("//", "/**", "*", "*/")


def code_lines(lines):
    n = 0
    for line in lines:
        s = line.strip()
        if s and not s.startswith(COMMENT_PREFIXES):
            n += 1
    return n


def expand(paths):
    """`paths` with each directory replaced by its `*.scala` files."""
    for path in paths:
        if path != "-" and os.path.isdir(path):
            found = []
            for root, _, files in os.walk(path):
                found += [os.path.join(root, f) for f in files if f.endswith(".scala")]
            yield from sorted(found)
        else:
            yield path


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    paths = list(expand(argv))
    total = 0
    for path in paths:
        if path == "-":
            n = code_lines(sys.stdin)
        else:
            with open(path, encoding="utf-8") as f:
                n = code_lines(f)
        total += n
        print(f"{n:6d}  {path}")
    if len(paths) > 1:
        print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
