#!/usr/bin/env bash
# Non-blank, non-comment line count of src/main/scala at two revisions.
#
#   plans/pr4/loc.sh [PARENT] [CHANGE]
#
# PARENT defaults to HEAD~1 and CHANGE to HEAD; pass WORKTREE as CHANGE to
# count the uncommitted tree. A line counts when any character on it lies
# outside a comment (// line comments and nested /* */ blocks; string and
# char literals are skipped so a "//" inside a string is code), so deleting
# comments never moves the count. Prints one line per revision and the
# delta, then one line per file whose count moved: its delta and both
# counts (largest drop first; 0 for a file absent at that revision).
set -euo pipefail
cd "$(git rev-parse --show-toplevel)"
parent=${1:-HEAD~1}
change=${2:-HEAD}

python3 - "$parent" "$change" <<'PY'
import subprocess, sys
def files(rev):
    if rev == "WORKTREE":
        out = subprocess.run(["git", "ls-files", "-co", "--exclude-standard",
                              "src/main/scala"], capture_output=True, text=True,
                             check=True).stdout
        return [(f, open(f, encoding="utf-8").read())
                for f in out.split() if f.endswith(".scala")]
    out = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev,
                          "src/main/scala"], capture_output=True, text=True,
                         check=True).stdout
    return [(f, subprocess.run(["git", "show", f"{rev}:{f}"], capture_output=True,
                               text=True, check=True).stdout)
            for f in out.split() if f.endswith(".scala")]

def code_lines(src):
    n, i, depth, code = 0, 0, 0, False
    L = len(src)
    while i < L:
        c = src[i]
        if c == "\n":
            n += code; code = False; i += 1; continue
        if depth:
            if src.startswith("/*", i): depth += 1; i += 2
            elif src.startswith("*/", i): depth -= 1; i += 2
            else: i += 1
            continue
        if src.startswith("//", i):
            while i < L and src[i] != "\n": i += 1
            continue
        if src.startswith("/*", i):
            depth = 1; i += 2; continue
        if c.isspace():
            i += 1; continue
        code = True
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = L if j < 0 else j + 3
            while j < L and src[j] == '"': j += 1
            n += src.count("\n", i, j); i = j; continue
        if c == '"':
            i += 1
            while i < L and src[i] not in '"\n':
                i += 2 if src[i] == "\\" else 1
            i += 1; continue
        if c == "'" and i + 2 < L:
            if src[i + 1] == "\\":
                j = src.find("'", i + 2); i = (j + 1) if j > 0 else i + 1; continue
            if src[i + 2] == "'":
                i += 3; continue
        i += 1
    return n + code

parent, change = sys.argv[1], sys.argv[2]
p = {f: code_lines(s) for f, s in files(parent)}
c = {f: code_lines(s) for f, s in files(change)}
print(f"parent {parent}: {sum(p.values())}")
print(f"change {change}: {sum(c.values())}")
print(f"delta: {sum(c.values()) - sum(p.values())}")
moved = [(c.get(f, 0) - p.get(f, 0), f) for f in set(p) | set(c)
         if c.get(f, 0) != p.get(f, 0)]
for d, f in sorted(moved):
    print(f"{d:+6d} {f} ({p.get(f, 0)} -> {c.get(f, 0)})")
PY
