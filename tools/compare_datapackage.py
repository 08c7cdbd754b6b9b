#!/usr/bin/env python3
"""Compare two `graft.Main` output directories.

    python3 tools/compare_datapackage.py A B

Checks, and prints every difference found:
  - the file layout: every file's relative path, part-file UUIDs masked,
    and the permission bits (`st_mode & 0o7777`) of every file and
    directory;
  - per parquet table (each `*.parquet` directory): the footer schema of
    its part files (names, physical and logical types, repetition, and
    the Spark schema Spark records in the footer) and its rows, compared
    as multisets (order-insensitive);
  - every JSON file (both datapackage descriptors and the taxonomy
    metadata) byte for byte, with each side's output directory masked.

Exits 0 when the two outputs are the same, 1 on any difference.
"""
import argparse
import os
import re
import sys
from collections import Counter

import pyarrow.parquet as pq

UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def layout(root):
    """Relative path (UUIDs masked) -> real path, for every file under root."""
    files = {}
    for d, _, names in os.walk(root):
        for n in names:
            real = os.path.join(d, n)
            files[UUID.sub("*", os.path.relpath(real, root))] = real
    return files


def modes(root):
    """Relative path (UUIDs masked) -> permission bits, for every file and
    directory under root."""
    out = {}
    for d, dirs, names in os.walk(root):
        for real in (os.path.join(d, n) for n in dirs + names):
            out[UUID.sub("*", os.path.relpath(real, root))] = os.lstat(real).st_mode & 0o7777
    return out


def footer(path):
    """The schema a part file's footer records, as comparable text."""
    f = pq.ParquetFile(path)
    cols = tuple((c.path, c.physical_type, str(c.logical_type), c.max_definition_level,
                  c.max_repetition_level) for c in (f.schema.column(i) for i in range(len(f.schema))))
    meta = f.metadata.metadata or {}
    # the schema's text, past its first line (the object's address)
    return str(f.schema).split("\n", 1)[1], cols, meta.get(SPARK_SCHEMA_KEY)


def rows(paths):
    """Rows of the part files, as a multiset of their reprs."""
    out = Counter()
    for p in paths:
        for r in pq.read_table(p).to_pylist():
            out[repr(sorted(r.items()))] += 1
    return out


def masked(text, root):
    """`text` with the output directory, as given and absolute, masked."""
    for r in sorted({root.rstrip("/"), os.path.abspath(root)}, key=len, reverse=True):
        text = text.replace(r, "<out>")
    return text


def compare(a, b):
    problems = []
    la, lb = layout(a), layout(b)
    for rel in sorted(set(la) - set(lb)):
        problems.append(f"only in A: {rel}")
    for rel in sorted(set(lb) - set(la)):
        problems.append(f"only in B: {rel}")
    common = sorted(set(la) & set(lb))
    ma, mb = modes(a), modes(b)
    for rel in sorted(set(ma) & set(mb)):
        if ma[rel] != mb[rel]:
            problems.append(f"{rel}: mode {ma[rel]:04o} vs {mb[rel]:04o}")

    for rel in common:
        if rel.endswith(".json"):
            ta, tb = (masked(open(l[rel], encoding="utf-8").read(), root)
                      for l, root in ((la, a), (lb, b)))
            if ta != tb:
                problems.append(f"{rel}: contents differ")

    tables = sorted({os.path.dirname(rel) for rel in common if rel.endswith(".parquet")
                     and os.path.dirname(rel).endswith(".parquet")})
    for t in tables:
        parts = [rel for rel in common if os.path.dirname(rel) == t and rel.endswith(".parquet")]
        fa = {footer(la[p]) for p in parts}
        fb = {footer(lb[p]) for p in parts}
        if fa != fb:
            problems.append(f"{t}: footer schema differs:\n  A {sorted(fa - fb)}\n  B {sorted(fb - fa)}")
        ra, rb = rows(la[p] for p in parts), rows(lb[p] for p in parts)
        if ra != rb:
            only_a, only_b = ra - rb, rb - ra
            problems.append(f"{t}: rows differ ({sum(ra.values())} vs {sum(rb.values())}); "
                            f"only in A: {list(only_a)[:2]}; only in B: {list(only_b)[:2]}")
    return len(tables), len(common), problems


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args()
    n_tables, n_files, problems = compare(args.a, args.b)
    for p in problems:
        print("DIFF", p)
    print(f"{'DIFFERENT' if problems else 'SAME'}: {n_tables} tables, {n_files} common files, "
          f"{len(problems)} differences")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
