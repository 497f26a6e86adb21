#!/usr/bin/env python3
"""Count non-blank, non-comment lines of Scala source.

A line counts when it holds any character outside a comment: blank
lines, lines that are only a `//` comment, and lines wholly inside a
(possibly nested) `/* ... */` block are skipped. Comment markers inside
string literals ("...", and \"\"\"...\"\"\" across lines) are not comments.

Usage: python3 tools/ncloc.py [path ...]   (default: src/main/scala)
Prints one `<count>  <file>` line per .scala file, then the total.
"""
import os
import sys


def count_lines(text):
    n = 0
    depth = 0          # nesting depth of /* */ blocks
    in_triple = False  # inside a """ string that spans lines
    for line in text.splitlines():
        code = in_triple  # a continued multi-line string is code
        i, m = 0, len(line)
        while i < m:
            if in_triple:
                end = line.find('"""', i)
                if end < 0:
                    break
                in_triple = False
                i = end + 3
                continue
            if depth > 0:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
                continue
            c = line[i]
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth += 1
                i += 2
                continue
            if c.isspace():
                i += 1
                continue
            code = True
            if line.startswith('"""', i):
                in_triple = True
                i += 3
            elif c == '"':
                i += 1
                while i < m and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and i + 2 < m and line[i + 2] == "'":
                i += 3  # a char literal such as '"'
            else:
                i += 1
        if code:
            n += 1
    return n


def scala_files(path):
    if os.path.isfile(path):
        yield path
        return
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(root, f)


def main(paths):
    total = 0
    for path in paths or ["src/main/scala"]:
        for f in scala_files(path):
            with open(f, encoding="utf-8") as fh:
                n = count_lines(fh.read())
            total += n
            print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
