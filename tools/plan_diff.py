#!/usr/bin/env python3
"""Compare two `graft.BenchExtra --explain` plan dumps query by query.

Each dump directory holds one `<query>.txt` per query (Spark's formatted
explain). Before comparing, the run-specific tokens are normalized:
expression ids (`#123L`, `obj#45`), `plan_id=`, RDD ids
(`MapPartitionsRDD[785]`), lambda class names
(`graft.ops.Dedup$$$Lambda$4928/0x...@6e38e95`) and the random suffix of
temp directories (`/tmp/graft-shard-store8502893275056641887`). What is left is the
plan's shape: operators, expressions, names, hints and partitioning.

Prints "[same] <query>" or "[DIFFER] <query>" with a unified diff of the
normalized plans, a query present on one side only as "[DIFFER] <query>:
only in A|B", then "<n> same, <m> differ". Exits 1 when any query
differs.

Usage: python3 tools/plan_diff.py <dirA> <dirB>
       python3 tools/plan_diff.py --self-check
The self-check reads the committed plans/r06 dumps: a file reads the same
as itself; dedup_clusters_before.txt reads the same as _after.txt (the raw
files differ only in expression and plan ids); dedup_ngram_jaccard's
before and after differ (its df guard went from a window to a groupBy
and join).
"""
import difflib, os, re, sys

RULES = [
    (re.compile(r"[\w.$]*\$\$Lambda[\w$]*(/0x[0-9a-f]+)?(@[0-9a-f]+)?"), "<lambda>"),
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    # random suffix of a temp directory a query writes (Files.createTempDirectory)
    (re.compile(r"(/[A-Za-z][\w.-]*?)-?\d{10,}(?=[/\]])"), r"\1<tmp>"),
]


def normalize(text):
    for rx, sub in RULES:
        text = rx.sub(sub, text)
    return text.splitlines(keepends=True)


def read(path):
    with open(path, encoding="utf-8") as f:
        return normalize(f.read())


def compare(a_path, b_path, name):
    """Returns the unified diff of two normalized plans ([] when same)."""
    return list(difflib.unified_diff(read(a_path), read(b_path),
                                     f"A/{name}", f"B/{name}", n=2))


def plans(d):
    return {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}


def main(dir_a, dir_b):
    a, b = plans(dir_a), plans(dir_b)
    same = differ = 0
    for q in sorted(a | b):
        if q not in a or q not in b:
            print(f"[DIFFER] {q}: only in {'A' if q in a else 'B'}")
            differ += 1
            continue
        d = compare(os.path.join(dir_a, f"{q}.txt"), os.path.join(dir_b, f"{q}.txt"), q)
        if d:
            print(f"[DIFFER] {q}")
            sys.stdout.writelines(d)
            differ += 1
        else:
            print(f"[same] {q}")
            same += 1
    print(f"{same} same, {differ} differ")
    return 1 if differ else 0


def self_check():
    r06 = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "plans", "r06")
    f = lambda n: os.path.join(r06, n)
    checks = [
        ("a dump reads the same as itself",
         not compare(f("sim_ann_lsh_recall_after.txt"), f("sim_ann_lsh_recall_after.txt"), "x")),
        ("dedup_clusters before and after read the same (ids differ only)",
         not compare(f("dedup_clusters_before.txt"), f("dedup_clusters_after.txt"), "x")),
        ("dedup_ngram_jaccard before and after differ",
         bool(compare(f("dedup_ngram_jaccard_before.txt"),
                      f("dedup_ngram_jaccard_after.txt"), "x"))),
    ]
    for what, ok in checks:
        print(f"[{'ok' if ok else 'FAIL'}] {what}")
    return 0 if all(ok for _, ok in checks) else 1


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-check"]:
        sys.exit(self_check())
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
