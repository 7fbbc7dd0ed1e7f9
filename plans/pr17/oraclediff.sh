#!/usr/bin/env bash
# Row-by-row diff of the oracle SQL of two trees.
#
#   plans/pr17/oraclediff.sh <parent tree> <change tree> <sf dir> [out dir]
#
# In each tree, `sbt "runMain graft.Verify <sf dir> <out>/<side> <name>"`
# with a name that matches no row: Verify then runs no query but writes
# the full oracle_sql.json. The two files are compared row by row; the
# script prints the rows present on one side only and, for each row
# whose SQL text differs, a unified diff of the two texts, then a
# summary line with the changed row names. With RUN=1 it also executes
# both SQL texts of every changed row in DuckDB over the sf dir's
# parquet tables and prints `same` or `DIFFERENT` per row (all rows and
# columns, in result order).
#
# out dir defaults to a new temp dir; a side whose
# <out>/<side>/oracle_sql.json exists is not run again.
# Needs the offline SBT_OPTS of the verify recipe when run offline.
set -euo pipefail
parent=$(cd "$1" && pwd)
change=$(cd "$2" && pwd)
sf=${3:?give the scale-factor directory}
out=${4:-$(mktemp -d)}
mkdir -p "$out"
for side in parent change; do
  tree=$parent; [ "$side" = change ] && tree=$change
  if [ ! -s "$out/$side/oracle_sql.json" ]; then
    (cd "$tree" && sbt --batch -Dsbt.log.noformat=true \
      "runMain graft.Verify $sf $out/$side no_such_row_oraclediff") \
      > "$out/$side.log" 2>&1 || { tail -20 "$out/$side.log"; exit 1; }
  fi
done

python3 - "$out/parent/oracle_sql.json" "$out/change/oracle_sql.json" "$sf" <<'PY'
import difflib, json, os, sys
p = json.load(open(sys.argv[1]))
c = json.load(open(sys.argv[2]))
sf = sys.argv[3]
for name in sorted(set(p) - set(c)):
    print(f"only in parent: {name}")
for name in sorted(set(c) - set(p)):
    print(f"only in change: {name}")
changed = [n for n in sorted(set(p) & set(c)) if p[n] != c[n]]
for name in changed:
    print(f"===== {name} =====")
    for line in difflib.unified_diff(p[name].splitlines(), c[name].splitlines(),
                                     "parent", "change", n=1, lineterm=""):
        print("   ", line)
print(f"{len(changed)} of {len(set(p) & set(c))} rows changed: {' '.join(changed)}")
if os.environ.get("RUN") != "1":
    sys.exit(0)
import duckdb
con = duckdb.connect()
con.execute("SET threads = 2")
con.execute("SET memory_limit = '2GB'")
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    f = f"{sf}/{t}.parquet"
    if os.path.exists(f):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
bad = 0
for name in changed:
    try:
        a = con.execute(p[name])
        cols_a, rows_a = [d[0] for d in a.description], a.fetchall()
        b = con.execute(c[name])
        cols_b, rows_b = [d[0] for d in b.description], b.fetchall()
    except Exception as e:
        print(f"ERROR {name}: {e}")
        bad += 1
        continue
    same = cols_a == cols_b and repr(rows_a) == repr(rows_b)
    bad += not same
    print(f"{'same' if same else 'DIFFERENT'} {name} ({len(rows_b)} rows)")
print("ALL SAME" if bad == 0 else f"{bad} rows differ or fail")
PY
