#!/usr/bin/env python3
"""Count main-source lines: raw lines, code-only lines and storage sites.

Usage: python3 bin/loc.py [DIR]   (DIR defaults to src/main)

A code-only line has at least one non-blank character outside a `//` line
comment or a `/* ... */` block comment; string and character literals are
skipped so a "//" or "/*" inside them does not open a comment. These are
the two counts the roadmap's least-code aim is measured by.

A storage site is a code-only line that persists, local-checkpoints or
releases storage by hand (`.persist(`, `.localCheckpoint(`, `unpersist(`,
`releaseLocal(`, `releaseFinal(`, a `storageLevel` test), counted in the
library files: everything but runtime/Storage.scala, the storage owner,
and the instrument and side-main files below.
"""
import re
import sys
from pathlib import Path

STORAGE_SITE = re.compile(
    r"\.persist\(|\.localCheckpoint\(|unpersist\(|releaseLocal\(|releaseFinal\("
    r"|storageLevel\s*[!=]=")
NOT_LIBRARY = {"Storage.scala", "Bench.scala", "BenchExtra.scala", "ScalingBench.scala"}


def count(text):
    """(raw lines, code-only lines, storage sites) of one source text."""
    raw = code = sites = 0
    in_block = 0          # nesting depth: Scala block comments nest
    in_triple = False     # inside a """...""" string (may span lines)
    for line in text.split("\n"):
        raw += 1
        has_code = in_triple and line.strip() != ""
        kept = []             # the line's code outside comments and literals
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
                kept.append(c)
                i += 1
        if has_code:
            code += 1
        if STORAGE_SITE.search("".join(kept)):
            sites += 1
    if text.endswith("\n"):
        raw -= 1  # the split leaves one empty tail after the final newline
    return raw, code, sites


def main():
    root = Path(sys.argv[1] if len(sys.argv) > 1 else "src/main")
    raw = code = sites = 0
    for f in sorted(root.rglob("*")):
        if f.suffix in (".scala", ".java") and f.is_file():
            r, c, st = count(f.read_text(encoding="utf-8"))
            raw += r
            code += c
            if f.name not in NOT_LIBRARY:
                sites += st
    print(f"raw_lines {raw}")
    print(f"code_lines {code}")
    print(f"storage_sites {sites}")


if __name__ == "__main__":
    main()
