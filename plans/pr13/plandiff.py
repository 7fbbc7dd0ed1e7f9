#!/usr/bin/env python3
"""Per-row diff of two `graft.tools.Explain` dumps (parent, change).

    python3 plans/pr13/plandiff.py <parent.log> <change.log> [v]

Expression ids (`#123`), plan ids, lambda variable suffixes, JVM lambda
class names and hash codes, RDD ids, sbt lines and timing lines are
normalized away; each `===== <row> =====` section is then compared. Prints
one line per row (identical, or how many lines differ); with a third
argument, also the differing lines of each row.
"""
import re, sys
def norm(path):
    out = []
    for line in open(path, encoding="utf-8", errors="replace"):
        if line.startswith(("run ", "[", "real", "user", "sys")) or "INFO" in line or "WARN" in line:
            continue
        l = re.sub(r"#\d+L?", "#N", line)
        l = re.sub(r"\b(x|y|a|b|c|i|s|v|row|acc|d|t|z|e|k)_\d+\b", r"\1_N", l)
        l = re.sub(r"\$\$Lambda\$?[\w/$]*(@[0-9a-f]+)?", "$$Lambda", l)
        l = re.sub(r"@[0-9a-f]{5,}", "@H", l)
        l = re.sub(r"RDD\[\d+\]", "RDD[N]", l)
        l = re.sub(r"plan_id=\d+", "plan_id=N", l)
        l = re.sub(r"obj#N", "obj#N", l)
        out.append(l)
    return out
def split(lines):
    secs, cur = {}, None
    for l in lines:
        m = re.match(r"===== ([a-z0-9_]+) =====", l)
        if m: cur = m.group(1); secs[cur] = []; continue
        if cur: secs[cur].append(l)
    return secs
p, c = split(norm(sys.argv[1])), split(norm(sys.argv[2]))
import difflib
for name in sorted(set(p) | set(c)):
    a, b = p.get(name, []), c.get(name, [])
    if a == b: print(f"{name}: identical ({len(a)} lines)"); continue
    d = [x for x in difflib.unified_diff(a, b, "parent", "change", n=0) if not x.startswith("@@")]
    print(f"{name}: {sum(1 for x in d if x.startswith('-') and not x.startswith('---'))} lines differ")
    if len(sys.argv) > 3:
        for x in d[2:]:
            print("   ", x[:400].rstrip())
