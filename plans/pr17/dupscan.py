#!/usr/bin/env python3
"""Source-level duplicate scan of the query blocks.

    python3 plans/pr17/dupscan.py [file.scala ...]

Defaults to the three query blocks (CBlock, BBlock, ABlock). Each code
line is normalised: the leading `|` of a stripMargin line is dropped,
whitespace collapsed, and blank lines, comment lines and lone closers
(`)`, `}`, `),`, `}),`, `|)` ...) skipped. A window is W = 6 consecutive
normalised lines; a line is "repeated" when some window that covers it
occurs at least twice over all scanned files. Prints per file the code
line count and the repeated line count, then the 10 most repeated
windows, then the copies left of each fragment family (a line regex
per family): its total and the line numbers outside the family's
builder, so a collapsed family reads `outside builder: 0`.
"""
import re
import sys
from collections import defaultdict

W = 6
DEFAULT = ["src/main/scala/graft/queries/CBlock.scala",
           "src/main/scala/graft/queries/BBlock.scala",
           "src/main/scala/graft/queries/ABlock.scala"]

# family -> (line regex, name of the builder that may hold the copy)
FAMILIES = {
    "planted copy (doc_id + <8-digit literal offset>)":
        (r'col\("doc_id"\) \+ \d{8,}L|doc_id \+ \d{8,}\b', "Plant"),
    "components chain (reach(src, dst))": (r"reach\(src, dst\)", "componentsCtes"),
    # every DOUBLE sum fold except the ordered sums of an aggregated
    # `list(... ORDER BY ...)`, which transform nothing
    "double sum fold (list_prepend(CAST(0.0 AS DOUBLE), not over list(":
        (r"list_prepend\(CAST\(0\.0 AS DOUBLE\),(?! list\()", "foldSql"),
    "quality score (0.5 * (len(list_distinct":
        (r"0\.5 \* \(len\(list_distinct", "qualitySql"),
    "HLL CASE chains (WHEN w >= / rhoCase)": (r"WHEN w >= \$\{|val rhoCase", "hllCtes"),
    "langid confusion (groupBy(lang, pred_lang))":
        (r'groupBy\(col\("lang"\), col\("pred_lang"\)\)', "langConfusion"),
}

CLOSER = re.compile(r"^[|\s]*[)}\]]+[,;]?[)}\]]*[,;]?$")


def norm(line):
    s = line.strip()
    if s.startswith("|"):
        s = s[1:].strip()
    if not s or s.startswith(("//", "/*", "*", "--")) or CLOSER.match(s):
        return None
    return re.sub(r"\s+", " ", s)


def enclosing_defs(lines):
    """Name of the object member (def, val, case class) or query row
    (`"name" ->`) that each line belongs to."""
    names, cur = [], ""
    for l in lines:
        m = re.match(r"  (?:private )?(?:lazy )?(?:def|val|case class) (\w+)", l) \
            or re.match(r'    "(\w+)" ->', l)
        if m:
            cur = m.group(1)
        names.append(cur)
    return names


def main(paths):
    src = {p: open(p, encoding="utf-8").read().split("\n") for p in paths}
    code = {p: [(i + 1, n) for i, l in enumerate(ls) if (n := norm(l))]
            for p, ls in src.items()}
    count = defaultdict(int)
    for p, cl in code.items():
        for k in range(len(cl) - W + 1):
            count[tuple(n for _, n in cl[k:k + W])] += 1
    for p, cl in code.items():
        rep = set()
        for k in range(len(cl) - W + 1):
            if count[tuple(n for _, n in cl[k:k + W])] > 1:
                rep.update(i for i, _ in cl[k:k + W])
        print(f"{p}: {len(cl)} code lines, {len(rep)} in a repeated {W}-line window")
    print(f"\ntop repeated {W}-line windows:")
    for win, c in sorted(count.items(), key=lambda kv: -kv[1])[:10]:
        if c > 1:
            print(f"  x{c}: {win[0][:90]}")
    print("\nfamilies (lines matching / lines outside the builder):")
    for fam, (rx, builder) in FAMILIES.items():
        total, outside = 0, []
        for p, ls in src.items():
            owners = enclosing_defs(ls)
            for i, l in enumerate(ls):
                if re.search(rx, l) and not l.strip().startswith(("//", "*", "/*")):
                    total += 1
                    if owners[i] != builder:
                        outside.append(f"{p.rsplit('/', 1)[-1]}:{i + 1}")
        print(f"  {fam}: {total}, outside builder: {len(outside)}")
        if outside:
            print("    " + " ".join(outside))


if __name__ == "__main__":
    main(sys.argv[1:] or DEFAULT)
