#!/usr/bin/env python3
"""Which queries' plans did a change move?

Compares three `Bench --plans DIR` directories (one `<query>.txt` per query,
each an executed query's explain("formatted")): two runs of the parent commit
and one of the change. A query is listed when its plan differs between PARENT
and CHANGE but not between PARENT and PARENT2; the parent's A/A pair screens
out plans that differ from run to run anyway (timestamped paths, literals
collected from data at build time). A plan present on one side only counts
as a difference.

What is compared. Expression ids (`#123`, `#123L`) and `plan_id=N` are
stripped. Of an adaptive plan, only the top-level `== Initial Plan ==` tree
and its operators' details are kept: the physical plan as planned from the
optimized logical plan, before any runtime statistics. The `== Final Plan ==`
depends on stage completion order and on sizes measured at run time, and
differs between two runs of one commit for about a quarter of the suite.
Run-order numbering is stripped as well: operator ids `(N)`, codegen ids,
RDD ids, lambda class names and query stage ids, and so are the source line
numbers in RDD call-site names (`at X.scala:N`), which move with any edit
above the call. A plan with no top-level adaptive node is compared whole.

Usage: python3 tools/plan_diff.py PARENT PARENT2 CHANGE
Exits 1 if any query is listed, 0 otherwise.
"""
import os
import re
import sys

IDS = re.compile(r"#\d+L?|plan_id=\d+")
RUN_ORDER = re.compile(
    r"(?m)\(\d+\)|codegen id : \d+|RDD\[\d+\]|\$Lambda\$\S*|^Arguments: \d+$"
    r"|(?<=\.scala):\d+")
INITIAL = "+- == Initial Plan =="


def fingerprint(text):
    text = IDS.sub("", text)
    blocks = text.split("\n\n")
    tree = blocks[0].splitlines()
    if INITIAL not in tree:
        return RUN_ORDER.sub("", text)
    details = {}
    for b in blocks:
        m = re.match(r"\((\d+)\) ", b.lstrip("\n"))
        if m:
            details[m.group(1)] = b.strip("\n")
    out = []
    for line in tree[tree.index(INITIAL) + 1:]:
        out.append(line)
        m = re.search(r"\((\d+)\)", line)
        if m and m.group(1) in details:
            out.append(details[m.group(1)])
    return RUN_ORDER.sub("", "\n".join(out))


def plans(d):
    out = {}
    for f in os.listdir(d):
        if f.endswith(".txt"):
            with open(os.path.join(d, f)) as fh:
                out[f[:-4]] = fingerprint(fh.read())
    return out


def main(parent, parent2, change):
    p, p2, c = plans(parent), plans(parent2), plans(change)
    names = sorted(set(p) | set(p2) | set(c))
    noisy = [q for q in names if p.get(q) != p2.get(q)]
    moved = [q for q in names if p.get(q) != c.get(q) and q not in noisy]
    print(f"{len(names)} queries; {len(noisy)} differ between the parent "
          f"runs (skipped); {len(moved)} moved by the change")
    for q in noisy:
        print(f"A/A differs: {q}")
    for q in moved:
        print(f"MOVED: {q}")
    return 1 if moved else 0


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:]))
