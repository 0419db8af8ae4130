#!/usr/bin/env python3
"""Diff two `graft.ExplainAll` output directories, plan by plan.

Usage:
  tools/plan_diff.py <dirA> <dirB>

Each directory holds one `<query>.txt` formatted physical plan per query
(`sbt "runMain graft.ExplainAll <sfDir> <outDir> [q,...|all]"`). Before
comparing, the run-specific tokens are normalized: Catalyst expression
ids (`#123` -> `#N`), plan ids (`plan_id=7`), the numeric suffixes of
temp paths, JVM lambda class names and identity hashes, the ids and
source call sites (`MapPartitionsRDD[186] at Foo.scala:12`) of
checkpointed RDDs, and the `java.io.tmpdir` prefix of the `graft-*`
store paths on `Location:` lines. So moving code between files, one
query creating more or fewer RDDs (the per-JVM RDD counter shifts every
later plan), or running each side on its own tmpdir is not a plan
change. The projection groups of a
distinct-aggregate Expand (its `gid` column) are put in one canonical
order too: Spark orders them, their columns and their `gid` numbers by
expression-id hashes, so the same query flips between runs (q75, q82).
Prints one line per query that differs (with a short unified diff), one
per query present on one side only, and a summary.
Exit status: 0 when every plan matches, 1 otherwise.
"""
import difflib, os, re, sys

STORE_DIR = re.compile(r"file:[^\s\[\],]*?/(?=graft-)")
NORMALIZE = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(/tmp/[A-Za-z_.-]*?)\d{6,}"), r"\1N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{5,8}\b"), "@H"),
    (re.compile(r" at \w+\.scala:\d+"), " at <call site>"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"^Location: .*$", re.M),
     lambda m: STORE_DIR.sub("file:<tmpdir>/", m.group(0))),
]


EXPAND_ARGS = re.compile(r"^\(\d+\) Expand\n(?:Input .*\n)?Arguments: (.*)$", re.M)


def split_top(s):
    """Split `s` at the commas outside any bracket or parenthesis."""
    parts, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c in "[(":
            depth += 1
        elif c in "])":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    parts.append(s[start:].strip())
    return parts


def unbracket(s):
    return split_top(s[1:-1]) if s.startswith("[") and s.endswith("]") else None


def canonical_expand(text, args):
    """`text` with one distinct-aggregate Expand's groups in canonical order.

    Each projection fills its own group's columns and nulls the others'.
    Projections are sorted by the columns they fill (names without ids),
    their `gid` literals reassigned in that order, and the group columns
    laid out in it. The Expand's output attributes have ids of their own,
    so the same column order and `gid` mapping are applied wherever the
    plan names them. Runs before the ids are normalized.
    """
    top = split_top(args)
    projs = unbracket(top[0]) if len(top) == 2 else None
    out = unbracket(top[1]) if len(top) == 2 else None
    if not projs or not out or not out[-1].startswith("gid#"):
        return text
    projs = [unbracket(p) for p in projs]
    if any(p is None or len(p) != len(out) or not p[-1].isdigit() for p in projs):
        return text
    group = [i for i in range(len(out) - 1) if any(p[i] == "null" for p in projs)]
    order = sorted(projs, key=lambda p: [unid(p[i]) for i in group if p[i] != "null"])
    gids = sorted(int(p[-1]) for p in projs)
    gid_map = {p[-1]: str(g) for p, g in zip(order, gids)}
    cols = sorted(group, key=lambda i: (
        next((k for k, p in enumerate(order) if p[i] != "null"), len(order)),
        unid(out[i])))
    perm = list(range(len(out)))
    for slot, i in zip(group, cols):
        perm[slot] = i

    def lay(row):
        return "[" + ", ".join(row[i] for i in perm) + "]"

    new_args = "[" + ", ".join(
        lay(p[:-1] + [gid_map[p[-1]]]) for p in order) + "], " + lay(out)
    text = text.replace("Arguments: " + args, "Arguments: " + new_args)
    old_cols = ", ".join(out[i] for i in group)
    new_cols = ", ".join(out[i] for i in cols)
    text = text.replace(old_cols, new_cols)
    return re.sub(re.escape(out[-1]) + r" = (\d+)\b",
                  lambda m: f"{out[-1]} = {gid_map.get(m.group(1), m.group(1))}", text)


def unid(s):
    return NORMALIZE[0][0].sub("#N", s)


def normalize(text):
    for args in EXPAND_ARGS.findall(text):
        text = canonical_expand(text, args)
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
