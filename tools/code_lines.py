#!/usr/bin/env python3
"""Count code lines per file and in total.

A code line is a non-blank line that is not a comment line, i.e. what
`grep -v '^\\s*$' | grep -v '^\\s*\\(\\*\\|//\\|/\\*\\*\\)'` keeps: lines
starting with `*`, `//` or `/**` (after indentation) are comments.
Directories are walked for `*.scala`, `*.py` and `*.java` files.

Usage: python3 tools/code_lines.py <path>...
"""
import re
import sys
from pathlib import Path

BLANK = re.compile(r"^\s*$")
COMMENT = re.compile(r"^\s*(\*|//|/\*\*)")
SUFFIXES = {".scala", ".py", ".java"}


def code_lines(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        return sum(1 for line in f
                   if not BLANK.match(line) and not COMMENT.match(line))


def files(args):
    for a in args:
        p = Path(a)
        if p.is_dir():
            yield from sorted(q for q in p.rglob("*")
                              if q.is_file() and q.suffix in SUFFIXES)
        else:
            yield p


def main(args):
    if not args:
        sys.exit(__doc__.strip().splitlines()[-1])
    total = 0
    for f in files(args):
        n = code_lines(f)
        total += n
        print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
