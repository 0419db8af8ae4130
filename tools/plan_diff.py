#!/usr/bin/env python3
"""Diff two `graft.ExplainAll` output directories, plan by plan.

Usage:
  tools/plan_diff.py <dirA> <dirB>

Each directory holds one `<query>.txt` formatted physical plan per query
(`sbt "runMain graft.ExplainAll <sfDir> <outDir> [q,...|all]"`). Before
comparing, the run-specific tokens are normalized: Catalyst expression
ids (`#123` -> `#N`), plan ids (`plan_id=7`), the numeric suffixes of
temp paths, JVM lambda class names and identity hashes, and the source
call sites (`at Foo.scala:12`) that name checkpointed RDDs, so moving
code between files is not a plan change. Prints one line per query that
differs (with a short unified diff), one per query present on one side
only, and a summary.
Exit status: 0 when every plan matches, 1 otherwise.
"""
import difflib, os, re, sys

NORMALIZE = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(/tmp/[A-Za-z_.-]*?)\d{6,}"), r"\1N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{5,8}\b"), "@H"),
    (re.compile(r" at \w+\.scala:\d+"), " at <call site>"),
]


def normalize(text):
    for pat, rep in NORMALIZE:
        text = pat.sub(rep, text)
    return text.splitlines()


def plans(d):
    return {f[:-4]: os.path.join(d, f) for f in os.listdir(d) if f.endswith(".txt")}


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = plans(argv[1]), plans(argv[2])
    differ, same = [], 0
    for q in sorted(a.keys() | b.keys()):
        if q not in a or q not in b:
            print(f"[only in {'A' if q in a else 'B'}] {q}")
            differ.append(q)
            continue
        la = normalize(open(a[q], encoding="utf-8").read())
        lb = normalize(open(b[q], encoding="utf-8").read())
        if la == lb:
            same += 1
            continue
        differ.append(q)
        print(f"[differs] {q}")
        diff = list(difflib.unified_diff(la, lb, "A/" + q, "B/" + q, n=0, lineterm=""))
        for line in diff[2:14]:
            print("    " + line)
        if len(diff) > 14:
            print(f"    ... {len(diff) - 14} more diff lines")
    print(f"== {same} identical, {len(differ)} differ ==")
    if differ:
        print("differ: " + " ".join(differ))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
