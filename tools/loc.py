#!/usr/bin/env python3
"""Count lines of the Scala sources under src/main/scala.

For every .scala file, and in total, print the raw line count and the
code-line count: lines that are neither blank nor comment lines. A comment
line is one whose first non-blank characters are `//`, `/**`, `/*` or `*`
(the scaladoc body and closing lines), so deleting a comment never counts
as deleting code.

Usage: python3 tools/loc.py [root] [file-substring ...]
  root             the source tree (default: src/main/scala next to tools/)
  file-substring   print only files whose path contains one of these
                   (the total still covers them only)
"""
import os
import sys


def is_code(line: str) -> bool:
    s = line.strip()
    return bool(s) and not s.startswith(("//", "/*", "*"))


def count(path: str) -> tuple[int, int]:
    with open(path, encoding="utf-8") as f:
        lines = f.read().splitlines()
    return len(lines), sum(1 for ln in lines if is_code(ln))


def main(argv: list[str]) -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.join(here, "..", "src", "main", "scala")
    filters = []
    if argv and os.path.isdir(argv[0]):
        root, filters = argv[0], argv[1:]
    else:
        filters = argv
    rows = []
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                rel = os.path.relpath(p, root)
                if not filters or any(f in rel for f in filters):
                    rows.append((rel, *count(p)))
    rows.sort()
    width = max([len(r[0]) for r in rows] + [5])
    print(f"{'file':<{width}}  {'raw':>6}  {'code':>6}")
    for rel, raw, code in rows:
        print(f"{rel:<{width}}  {raw:>6}  {code:>6}")
    print(f"{'total':<{width}}  {sum(r[1] for r in rows):>6}  "
          f"{sum(r[2] for r in rows):>6}")


if __name__ == "__main__":
    main(sys.argv[1:])
