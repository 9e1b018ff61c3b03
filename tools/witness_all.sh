#!/bin/bash
# Independent-witness check: runs the from-scratch stdlib-Python
# Iceberg reader (ice_independent_read.py) over every fixture that
# `sbt "Test/runMain graft.DriveIceExport"` builds under
# /tmp/ind_export_*, prints one WITNESS line per fixture, and checks
# each against DriveIceExport's EXPECT line(s) in /tmp/ind_export_expect.txt
# value by value. Exits non-zero when a fixture's values differ, its
# EXPECT line is missing, or the reader fails on it (a spec violation,
# e.g. a manifest without a spec-required header key).
cd "$(dirname "$0")/.."
expect=/tmp/ind_export_expect.txt
[ -f "$expect" ] || { echo "no $expect — run graft.DriveIceExport first" >&2; exit 2; }
out=$(mktemp)
trap 'rm -f "$out"' EXIT

# witness <name> <reader args...>: one WITNESS line (rows space-joined),
# or WITNESS-ERROR with the reader's last stderr line
witness() {
  local name=$1; shift
  local rows err
  err=$(mktemp)
  if rows=$(python3 tools/ice_independent_read.py "$@" 2>"$err"); then
    echo "WITNESS $name $(echo "$rows" | tr '\n' ' ')" | tee -a "$out"
  else
    echo "WITNESS-ERROR $name $(tail -1 "$err")" | tee -a "$out"
  fi
  rm -f "$err"
}

base='SELECT COUNT(*), CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) FROM T'
for f in plain mor bucket posdel appended dml branch posdml merge catname avrodata dv dvexport; do
  witness $f /tmp/ind_export_$f "$base"
done
witness evolved /tmp/ind_export_evolved "SELECT COUNT(*), CAST(SUM(CAST(price AS DECIMAL(18,2))) AS VARCHAR), COUNT(note) FROM T"
for f in partitioned scoped; do
  witness $f /tmp/ind_export_$f "SELECT COUNT(*), CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR), SUM(CASE WHEN o_orderstatus='O' THEN 1 ELSE 0 END) FROM T"
done
witness adopted /tmp/ind_export_adopted "SELECT COUNT(*), CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR), COUNT(DISTINCT sys_file_date) FROM T"
witness changes /tmp/ind_export_changes --changes 1 "SELECT _change_type, COUNT(*), CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) FROM t GROUP BY 1 ORDER BY 1"
witness rowlineage /tmp/ind_export_rowlineage --lineage "SELECT COALESCE(_last_updated_sequence_number, 0) AS seq, COUNT(*), SUM(_row_id), MIN(_row_id), MAX(_row_id) FROM t GROUP BY 1 ORDER BY 1"

# EXPECT lines carry `key=value` fields, WITNESS lines python row
# tuples; a fixture matches when both give the same value sequence
# (all EXPECT lines of a fixture, in order, against all its rows)
python3 - "$expect" "$out" <<'EOF'
import ast, re, sys
expected = {}
for line in open(sys.argv[1]):
    parts = line.split()
    if len(parts) >= 2 and parts[0] == "EXPECT":
        expected.setdefault(parts[1], []).extend(p.split("=", 1)[1] for p in parts[2:])
bad = 0
seen = set()
for line in open(sys.argv[2]):
    tag, name, rest = (line.rstrip("\n").split(" ", 2) + [""])[:3]
    seen.add(name)
    if tag == "WITNESS-ERROR":
        print(f"FAIL {name}: reader error: {rest}")
        bad += 1
        continue
    got = [str(v) for row in re.findall(r"\([^()]*\)", rest)
           for v in ast.literal_eval(row if row.endswith(",)") else row[:-1] + ",)")]
    want = expected.get(name)
    if want is None:
        print(f"FAIL {name}: no EXPECT line")
        bad += 1
    elif got != want:
        print(f"FAIL {name}: witness {got} != expected {want}")
        bad += 1
for name in sorted(set(expected) - seen):
    print(f"FAIL {name}: EXPECT line without a witness run")
    bad += 1
print(f"witness: {len(seen) - bad}/{len(seen)} fixtures match" if not bad
      else f"witness: {bad} mismatch(es)")
sys.exit(1 if bad else 0)
EOF
