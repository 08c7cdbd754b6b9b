#!/usr/bin/env python3
"""Raw and code line counts for the Scala sources under src/main.

A code line is non-blank, does not start with `//`, and lies outside a
`/* ... */` block (scaladoc included). Usage, from the repo root:

    python3 tools/count_code_lines.py [--per-file] [dir]

prints `raw=<n> code=<n>` for `dir` (default `src/main`); `--per-file`
first prints one `code raw path` line per file, largest first.
"""
import os
import sys


def count(path):
    raw = code = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            raw += 1
            s = line.strip()
            if in_block:
                if "*/" in s:
                    in_block = False
                continue
            if not s or s.startswith("//"):
                continue
            if s.startswith("/*"):
                in_block = "*/" not in s[2:]
                continue
            code += 1
    return raw, code


def main(argv):
    per_file = "--per-file" in argv
    args = [a for a in argv if a != "--per-file"]
    root = args[0] if args else "src/main"
    rows = []
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                rows.append((*count(p), p))
    if per_file:
        for raw, code, p in sorted(rows, key=lambda r: -r[1]):
            print(f"{code:6d} {raw:6d} {p}")
    print(f"raw={sum(r[0] for r in rows)} code={sum(r[1] for r in rows)}")


if __name__ == "__main__":
    main(sys.argv[1:])
