#!/bin/bash
# Local iteration loop: compile, run graft.Verify, compare vs DuckDB.
# Usage: tools/verify_local.sh [sfDir] [outDir]
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
sbt -batch compile 2>&1 | grep -E "error|warning|success" | tail -3
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
# heap: half of host memory, clamped to 2-8 GB (the tier-1 test formula)
HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
rm -rf "$OUT"
java $OPENS -Xmx$HEAP -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Verify "$SF" "$OUT" 2>&1 | grep -v "INFO\|WARN\|log4j" | tail -5
python3 tools/check_oracle.py --sweep "$SF" "$OUT/oracle_sql.json"
python3 tools/check_oracle.py "$SF" "$OUT"
# plan-regression gate (r13): fingerprint every query's fresh plan
# against the committed PLANS.tsv — fails on un-annotated growth in
# shuffles/sorts/expands/windows/shuffle-backed joins or a lost pushdown.
# rm first so a crashed Plans run can never leave a stale fresh file
# for check_plans.py to pass against; the existence check below turns
# a swallowed Plans crash (grep/tail eat its exit code) into a loud
# gate failure instead of a vacuous pass.
rm -f /tmp/PLANS_fresh.tsv
java $OPENS -Xmx$HEAP -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Plans "$SF" /tmp/PLANS_fresh.tsv 2>&1 | grep -v "INFO\|WARN\|log4j" | tail -1
test -f /tmp/PLANS_fresh.tsv || { echo "FAIL plan gate: graft.Plans produced no /tmp/PLANS_fresh.tsv"; exit 1; }
python3 tools/check_plans.py PLANS.tsv /tmp/PLANS_fresh.tsv
