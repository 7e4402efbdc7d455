#!/usr/bin/env python3
"""Compare two `graft.PlanDump` output directories query by query.

    python3 tools/plan_diff.py <dir_a> <dir_b> [--show KEY]

`graft.PlanDump` writes one `.explain("formatted")` text per query, named
`<query>_<suffix>.txt`. This script pairs the files of the two directories
by query name, normalizes what changes from run to run, and reports for
every query whether the operator tree is identical, plus the number of
detail lines that differ.

- The operator tree is the outline between `== Physical Plan ==` and the
  first blank line (`+- Project (12)` ...); the details are the numbered
  node sections below it.
- Normalized before comparing: expression ids (`#123`), `plan_id=`,
  RDD ids (`MapPartitionsRDD[45]`), `File.scala:123` call sites, lambda
  and object hashes (`$$Lambda$6602/0x...@2abaa90f`) and the random digits
  of scratch directories (`/tmp/graft_media_image1132...`).
- `--show KEY` prints the normalized unified diff of one query.

Exit status: 0 when every query present in both directories has an
identical operator tree and no query is missing from either side; 1
otherwise.
"""
import argparse
import collections
import difflib
import os
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\b([A-Za-z]\w*\.scala):\d+"), r"\1:N"),
    (re.compile(r"\$\$Lambda\$?[\w/$.]*@[0-9a-f]+"), "$$Lambda@N"),
    (re.compile(r"@[0-9a-f]{6,16}\b"), "@N"),
    (re.compile(r"(/tmp/[A-Za-z_]*?)\d{6,}"), r"\1N"),
]


def normalize(line):
    for pat, rep in NORMALIZE:
        line = pat.sub(rep, line)
    return line


def split_plan(text):
    """(outline lines, detail lines) of one formatted plan, normalized."""
    lines = [normalize(l.rstrip()) for l in text.splitlines()]
    head = lines.index("== Physical Plan ==") if "== Physical Plan ==" in lines else -1
    start = end = head + 1
    while end < len(lines) and lines[end].strip():
        end += 1
    outline = lines[start:end]
    details = [l for l in lines[:max(head, 0)] + lines[end:] if l.strip()]
    return outline, details


def query_files(d):
    """{query: path}: the suffix is the text after the last '_' shared by
    every file in the directory."""
    names = sorted(f for f in os.listdir(d) if f.endswith(".txt"))
    if not names:
        return {}
    suffixes = {n[:-4].rsplit("_", 1)[-1] for n in names}
    if len(suffixes) != 1:
        return {n[:-4]: os.path.join(d, n) for n in names}
    sfx = "_" + suffixes.pop() + ".txt"
    return {n[:-len(sfx)]: os.path.join(d, n) for n in names}


def differing_lines(a, b):
    """Lines of one side with no counterpart on the other (as multisets:
    linear time, where a sequence diff is quadratic on large plans)."""
    ca, cb = collections.Counter(a), collections.Counter(b)
    return max(sum((ca - cb).values()), sum((cb - ca).values()))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("dir_a")
    ap.add_argument("dir_b")
    ap.add_argument("--show", help="print the normalized diff of this query")
    args = ap.parse_args()
    fa, fb = query_files(args.dir_a), query_files(args.dir_b)
    only_a, only_b = sorted(fa.keys() - fb.keys()), sorted(fb.keys() - fa.keys())
    tree_diff, detail_diff = [], 0
    for q in sorted(fa.keys() & fb.keys()):
        with open(fa[q]) as f:
            oa, da = split_plan(f.read())
        with open(fb[q]) as f:
            ob, db = split_plan(f.read())
        same_tree = oa == ob
        nd = differing_lines(da, db)
        detail_diff += nd > 0
        if not same_tree:
            tree_diff.append(q)
        print(f"{q}: tree {'identical' if same_tree else 'DIFFERS'}, "
              f"{nd} detail lines differ")
        if args.show == q:
            sys.stdout.writelines(difflib.unified_diff(
                [l + "\n" for l in oa + [""] + da], [l + "\n" for l in ob + [""] + db],
                args.dir_a, args.dir_b))
    for q in only_a:
        print(f"{q}: only in {args.dir_a}")
    for q in only_b:
        print(f"{q}: only in {args.dir_b}")
    n = len(fa.keys() & fb.keys())
    print(f"SUMMARY: {n} queries compared, {n - len(tree_diff)} identical trees, "
          f"{detail_diff} with differing detail lines, "
          f"{len(only_a) + len(only_b)} unmatched; TREE_DIFFS: {tree_diff}")
    return 0 if not tree_diff and not only_a and not only_b else 1


if __name__ == "__main__":
    sys.exit(main())
