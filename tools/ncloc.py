#!/usr/bin/env python3
"""Print the non-blank, non-comment line count of each file and their total.

Usage: python3 tools/ncloc.py FILE [FILE ...]

`//` line comments and `/* */` block comments (nested, as Scala allows) are
stripped before a line is judged blank. Comment markers inside string
literals ("...", triple-quoted, and character literals) are left alone.
"""
import sys


def code_lines(text):
    """Count the lines of `text` that keep code once comments are removed."""
    count = 0
    depth = 0  # block-comment nesting depth
    in_triple = False  # inside a """...""" literal (may span lines)
    for line in text.splitlines():
        code = []
        i, n = 0, len(line)
        while i < n:
            if in_triple:
                end = line.find('"""', i)
                if end < 0:
                    code.append(line[i:])
                    i = n
                else:
                    code.append(line[i:end + 3])
                    i = end + 3
                    in_triple = False
            elif depth:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                in_triple = True
                code.append('"""')
                i += 3
            elif line[i] == '"':
                j = i + 1
                while j < n and line[j] != '"':
                    j += 2 if line[j] == "\\" else 1
                code.append(line[i:j + 1])
                i = j + 1
            elif line[i] == "'" and (line.startswith("\\", i + 1)
                                     or line.startswith("'", i + 2)):
                # a character literal: 'x' or an escape such as '\''
                j = line.find("'", i + 3 if line[i + 1] == "\\" else i + 2)
                j = n - 1 if j < 0 else j
                code.append(line[i:j + 1])
                i = j + 1
            else:
                code.append(line[i])
                i += 1
        if "".join(code).strip():
            count += 1
    return count


def main(paths):
    total = 0
    for p in paths:
        with open(p, encoding="utf-8") as f:
            c = code_lines(f.read())
        total += c
        print(f"{c:7d}  {p}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__.strip())
    main(sys.argv[1:])
