#!/usr/bin/env python3
"""Count main-source lines: raw lines and code-only lines.

Usage: python3 bin/loc.py [DIR]   (DIR defaults to src/main)

A code-only line has at least one non-blank character outside a `//` line
comment or a `/* ... */` block comment; string and character literals are
skipped so a "//" or "/*" inside them does not open a comment. These are
the two counts the roadmap's least-code aim is measured by.
"""
import sys
from pathlib import Path


def count(text):
    raw = code = 0
    in_block = 0          # nesting depth: Scala block comments nest
    in_triple = False     # inside a """...""" string (may span lines)
    for line in text.split("\n"):
        raw += 1
        has_code = in_triple and line.strip() != ""
        i, n = 0, len(line)
        while i < n:
            c = line[i]
            if in_block:
                if line.startswith("/*", i):
                    in_block += 1; i += 2
                elif line.startswith("*/", i):
                    in_block -= 1; i += 2
                else:
                    i += 1
            elif in_triple:
                if line.startswith('"""', i):
                    in_triple = False; i += 3
                    while i < n and line[i] == '"':  # """" closes at the last quote
                        i += 1
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                in_block = 1; i += 2
            elif line.startswith('"""', i):
                has_code = True; in_triple = True; i += 3
            elif c == '"':
                has_code = True; i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and i + 2 < n and (line[i + 2] == "'" or line[i + 1] == "\\"):
                # char literal: 'x' or '\n' / '\u0000'
                has_code = True
                j = line.find("'", i + 2 if line[i + 1] == "\\" else i + 1)
                i = (j if j >= 0 else n - 1) + 1
            else:
                if not c.isspace():
                    has_code = True
                i += 1
        if has_code:
            code += 1
    if text.endswith("\n"):
        raw -= 1  # the split leaves one empty tail after the final newline
    return raw, code


def main():
    root = Path(sys.argv[1] if len(sys.argv) > 1 else "src/main")
    raw = code = 0
    for f in sorted(root.rglob("*")):
        if f.suffix in (".scala", ".java") and f.is_file():
            r, c = count(f.read_text(encoding="utf-8"))
            raw += r
            code += c
    print(f"raw_lines {raw}")
    print(f"code_lines {code}")


if __name__ == "__main__":
    main()
