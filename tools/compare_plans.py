#!/usr/bin/env python3
"""Compare two `graft.PlanDump` output directories, query by query.

    python3 tools/compare_plans.py A B

Each directory holds one `<query>.txt` per query, the formatted plan
`runMain graft.PlanDump <sfDir> <outDir> [query...]` writes. Before the
plans are compared, what differs between two runs of the same plan is
masked:
  - expression ids (`#123`, `#123L`);
  - plan ids (`plan_id=123`) and RDD ids (`MapPartitionsRDD[123]`);
  - whole-stage-codegen stage ids (`*(3)`, `WholeStageCodegen (3)`,
    `[codegen id : 3]`) and the source line a call site names
    (`IterativeCheckpoint.scala:40`);
  - the directories of `file:` paths (`file:/data/sf0.01/events.parquet`
    reads `file:<dir>/events.parquet`);
  - JVM object identities: lambda class names
    (`Multimodal$$$Lambda$5686/0x00007f8f95561838`) and identity hashes
    (`LmModel@287d438f`).

Prints each query whose masked plans differ, with a unified diff, and
each query that only one side has. Exits 0 when every plan is the same,
1 otherwise.
"""
import argparse
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"WholeStageCodegen \(\d+\)"), "WholeStageCodegen (N)"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"file:[^\s,\]]*/"), "file:<dir>/"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"(?<=[\w$])@[0-9a-f]+\b"), "@N"),
]


def masked(text):
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text


def plans(root):
    """Query name -> masked plan text, for every `*.txt` under root."""
    out = {}
    for name in sorted(os.listdir(root)):
        if name.endswith(".txt"):
            with open(os.path.join(root, name), "rb") as f:
                out[name[:-4]] = masked(f.read().decode("utf-8", errors="replace"))
    return out


def compare(a, b):
    """(query, report) for every query whose plans differ."""
    pa, pb = plans(a), plans(b)
    diffs = []
    for q in sorted(set(pa) | set(pb)):
        if q not in pb:
            diffs.append((q, "only in A"))
        elif q not in pa:
            diffs.append((q, "only in B"))
        elif pa[q] != pb[q]:
            lines = difflib.unified_diff(pa[q].splitlines(), pb[q].splitlines(),
                                         f"A/{q}", f"B/{q}", lineterm="")
            diffs.append((q, "\n".join(lines)))
    return len(set(pa) | set(pb)), diffs


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args()
    for d in (args.a, args.b):
        if not os.path.isdir(d):
            sys.exit(f"not a directory: {d}")
    total, diffs = compare(args.a, args.b)
    for q, report in diffs:
        print(f"== {q}: {report}" if "\n" not in report else f"== {q}\n{report}")
    print(f"{total - len(diffs)} of {total} queries have the same plan")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
