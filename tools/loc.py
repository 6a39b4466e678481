#!/usr/bin/env python3
"""Count Scala code lines: non-blank lines that are not comments.

A line counts as a comment when, after leading whitespace, it starts
with `//`, `/**`, `*` or `*/` (scaladoc bodies and line comments; a
code line with a trailing comment still counts as code).

Usage:
  python3 tools/loc.py FILE [FILE ...]        # per-file counts + total
  git show REV:PATH | python3 tools/loc.py -  # '-' reads stdin
"""
import sys

COMMENT_PREFIXES = ("//", "/**", "*", "*/")


def code_lines(lines):
    n = 0
    for line in lines:
        s = line.strip()
        if s and not s.startswith(COMMENT_PREFIXES):
            n += 1
    return n


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for path in argv:
        if path == "-":
            n = code_lines(sys.stdin)
        else:
            with open(path, encoding="utf-8") as f:
                n = code_lines(f)
        total += n
        print(f"{n:6d}  {path}")
    if len(argv) > 1:
        print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
