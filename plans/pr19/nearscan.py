#!/usr/bin/env python3
"""Near-sibling scan of the oracle SQL literals in the query blocks.

    python3 plans/pr19/nearscan.py [--min 0.90] [file.scala ...]

Defaults to the three query blocks (CBlock, BBlock, ABlock). Every
triple-quoted string literal (`\"\"\"...\"\"\"`, with or without an
interpolator) whose text holds `SELECT` is an oracle literal. Its text is
normalised: the leading `|` of each stripMargin line dropped and all
whitespace collapsed. Each pair of literals is scored with difflib's
SequenceMatcher ratio. Prints the literal count, then every identical
pair, then every other pair at or above --min (default 0.90), highest
first, each with the row or member that holds it and its line.
"""
import difflib
import itertools
import re
import sys

DEFAULT = ["src/main/scala/graft/queries/CBlock.scala",
           "src/main/scala/graft/queries/BBlock.scala",
           "src/main/scala/graft/queries/ABlock.scala"]
LIT = re.compile(r'"""(.*?)"""', re.S)


def owner_at(lines, lineno):
    """Query row (`"name" ->`) or object member (def, val) that holds a line."""
    for l in reversed(lines[:lineno]):
        m = re.match(r'\s*"(\w+)" ->', l) \
            or re.match(r"  (?:private )?(?:lazy )?(?:def|val) (\w+)", l)
        if m:
            return m.group(1)
    return "?"


def literals(path):
    text = open(path, encoding="utf-8").read()
    lines = text.split("\n")
    for m in LIT.finditer(text):
        body = m.group(1)
        if "SELECT" not in body:
            continue
        norm = " ".join(re.sub(r"^\s*\|", "", l) for l in body.split("\n"))
        norm = re.sub(r"\s+", " ", norm).strip()
        lineno = text.count("\n", 0, m.start()) + 1
        yield f"{path.rsplit('/', 1)[-1]}:{lineno} {owner_at(lines, lineno)}", norm


def main(argv):
    lo = 0.90
    if argv[:1] == ["--min"]:
        lo, argv = float(argv[1]), argv[2:]
    lits = [x for p in (argv or DEFAULT) for x in literals(p)]
    print(f"{len(lits)} oracle literals")
    same, near = [], []
    for (a, ta), (b, tb) in itertools.combinations(lits, 2):
        if ta == tb:
            same.append((a, b))
            continue
        sm = difflib.SequenceMatcher(None, ta, tb, autojunk=False)
        if sm.real_quick_ratio() >= lo and sm.quick_ratio() >= lo:
            r = sm.ratio()
            if r >= lo:
                near.append((r, a, b))
    print(f"\nidentical pairs: {len(same)}")
    for a, b in same:
        print(f"  {a}  ==  {b}")
    print(f"\npairs at >= {lo:.2f}: {len(near)}")
    for r, a, b in sorted(near, reverse=True):
        print(f"  {r:.3f}  {a}  ~  {b}")


if __name__ == "__main__":
    main(sys.argv[1:])
