#!/usr/bin/env python3
"""Compare the top-level operator trees of two `graft.Plans` dumps.

Usage:
    python3 tools/plan_tree_diff.py BEFORE.md AFTER.md

Each dump is the markdown `sbt "runMain graft.Plans <file>"` writes: one
`## <query>` section per query holding a FORMATTED physical plan. For
every query the script takes the operator tree (the lines between
`== Physical Plan ==` and the first blank line), strips what differs
between runs of the same plan — node numbers `(12)`, expression ids
`#123L`, `plan_id=N` and AQE `Statistics(...)` — and prints a unified
diff for each query whose tree moved, then one summary line. Exit
status is 1 when any tree differs or a query is in one dump only.
"""
import difflib
import re
import sys

_NORMALIZE = [
    (re.compile(r" \(\d+\)"), ""),
    (re.compile(r"#\d+L?"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics"),
]


def operator_trees(path):
    """query name -> normalized operator-tree lines."""
    trees, query, lines, state = {}, None, [], "out"
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if line.startswith("## "):
                query, lines, state = line[3:].strip(), [], "section"
            elif state == "section" and line == "== Physical Plan ==":
                state = "tree"
            elif state == "tree":
                if line.strip():
                    for pat, rep in _NORMALIZE:
                        line = pat.sub(rep, line)
                    lines.append(line.rstrip())
                else:
                    trees[query], state = lines, "out"
    return trees


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    before, after = operator_trees(argv[1]), operator_trees(argv[2])
    moved = sorted(q for q in before.keys() & after.keys() if before[q] != after[q])
    only = sorted(before.keys() ^ after.keys())
    for q in moved:
        sys.stdout.writelines(difflib.unified_diff(
            [l + "\n" for l in before[q]], [l + "\n" for l in after[q]],
            f"{q} (before)", f"{q} (after)"))
    for q in only:
        print(f"{q}: only in {'before' if q in before else 'after'}")
    print(f"{len(before.keys() & after.keys())} queries compared, "
          f"{len(moved)} trees moved: {' '.join(moved) or '-'}")
    return 1 if moved or only else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
