#!/usr/bin/env python3
"""Compare the physical operator trees of two `graft.Dev plan` dumps.

Usage: python3 tools/plan_diff.py <dirA> <dirB>

Each dir holds the `<name>_<tag>.txt` files that
`runMain graft.Dev plan <sfDir> <outDir> <tag> <name>...` writes: a
PRODUCTION plan and, when the key defines a separate prod plan, an
ORACLE-MODE plan, each in `explain("formatted")` form. For every key in
either dir this compares the numbered operator outline (the tree under
`== Physical Plan ==`, up to its first blank line) of each plan, with
expression ids (`#12`), RDD ids (`RDD[34]`), plan ids (`plan_id=56`) and
the `(tag)` of the section header masked. The per-operator detail blocks
are not compared: they carry source line numbers and lambda counters.

Prints one line per key and, at the first differing line of a key, both
sides. Exits 0 when every key's plans are identical, 1 otherwise (a key
present in one dir only counts as a difference), 2 on bad usage.
"""
import os
import re
import sys

HEADER = re.compile(r"^== (\S+) \((.*)\) — (.*) ==$")
MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
]


def mask(line):
    for pat, rep in MASKS:
        line = pat.sub(rep, line)
    return line


def outlines(path):
    """(name, [(mode, [outline lines])]) of one plan dump file."""
    name, plans, mode, lines, state = None, [], None, None, "skip"
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name, mode, state = m.group(1), m.group(3), "skip"
                continue
            if line == "== Physical Plan ==" and mode is not None:
                lines, state = [], "tree"
                plans.append((mode, lines))
                continue
            if state == "tree":
                if line.strip() == "":
                    state = "skip"
                else:
                    lines.append(mask(line))
    return name, plans


def load(d):
    out = {}
    for fn in sorted(os.listdir(d)):
        if fn.endswith(".txt"):
            name, plans = outlines(os.path.join(d, fn))
            if name is not None:
                out[name] = (fn, plans)
    return out


def first_diff(a, b):
    """None when the two plan lists match, else a description."""
    if [m for m, _ in a] != [m for m, _ in b]:
        return f"plan sections differ: {[m for m, _ in a]} vs {[m for m, _ in b]}"
    for (mode, la), (_, lb) in zip(a, b):
        for i in range(max(len(la), len(lb))):
            x = la[i] if i < len(la) else "<end of tree>"
            y = lb[i] if i < len(lb) else "<end of tree>"
            if x != y:
                return f"{mode}, outline line {i + 1}:\n    A: {x}\n    B: {y}"
    return None


def main(argv):
    if len(argv) != 3 or not all(os.path.isdir(d) for d in argv[1:]):
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = load(argv[1]), load(argv[2])
    bad = 0
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            print(f"DIFF  {name}: only in {argv[1] if name in a else argv[2]}")
            bad += 1
            continue
        d = first_diff(a[name][1], b[name][1])
        if d is None:
            n = sum(len(t) for _, t in a[name][1])
            print(f"same  {name}: {len(a[name][1])} plan(s), {n} operators")
        else:
            print(f"DIFF  {name}: {d}")
            bad += 1
    print(f"{len(set(a) | set(b)) - bad} identical, {bad} different")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
