#!/usr/bin/env python3
"""Count Scala code lines: non-blank lines that are not wholly comment.

A line counts when any code remains after removing `//` line comments
and `/* ... */` block comments (scaladoc included). String literals are
honoured, so a `//` or `/*` inside quotes is code, not a comment.

Usage:
  python3 scripts/loc.py                  # every .scala file under src/main
  python3 scripts/loc.py PATH [PATH ...]  # the given files or directories

Prints one `<code lines>  <file>` line per file, then the total and the
number of files.
"""
import os
import sys


def code_lines(text):
    count = 0
    in_block = 0  # Scala block comments nest
    in_str = None  # '"' or '"""' while inside a string literal
    for line in text.splitlines():
        code = False
        i, n = 0, len(line)
        while i < n:
            if in_block:
                if line.startswith("*/", i):
                    in_block -= 1
                    i += 2
                elif line.startswith("/*", i):
                    in_block += 1
                    i += 2
                else:
                    i += 1
                continue
            if in_str:
                code = True
                if in_str == '"""' and line.startswith('"""', i):
                    in_str, i = None, i + 3
                elif in_str == '"' and line[i] == "\\":
                    i += 2
                elif in_str == '"' and line[i] == '"':
                    in_str, i = None, i + 1
                else:
                    i += 1
                continue
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                in_block += 1
                i += 2
                continue
            c = line[i]
            if line.startswith('"""', i):
                in_str, i, code = '"""', i + 3, True
                continue
            if c == '"':
                in_str, i, code = '"', i + 1, True
                continue
            if c == "'" and i + 2 < n and line[i + 2] == "'":
                i, code = i + 3, True  # char literal such as '"'
                continue
            if not c.isspace():
                code = True
            i += 1
        if in_str == '"':
            in_str = None  # an unterminated single-line string ends here
        if code:
            count += 1
    return count


def scala_files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in os.walk(p):
                for name in sorted(names):
                    if name.endswith(".scala"):
                        yield os.path.join(root, name)
        else:
            yield p


def main(argv):
    here = os.path.dirname(os.path.abspath(__file__))
    paths = argv or [os.path.join(os.path.dirname(here), "src", "main")]
    rows = []
    for f in scala_files(paths):
        with open(f, encoding="utf-8") as fh:
            rows.append((code_lines(fh.read()), os.path.relpath(f)))
    for n, f in sorted(rows, key=lambda r: r[1]):
        print(f"{n:7d}  {f}")
    print(f"{sum(n for n, _ in rows):7d}  total ({len(rows)} files)")


if __name__ == "__main__":
    main(sys.argv[1:])
