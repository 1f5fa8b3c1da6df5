#!/bin/bash
# Local verify loop: compile, run graft.Verify on a scale dir, diff vs DuckDB.
# Usage: tools/verify_local.sh [sfDir] [outDir]
# The compile and Verify logs land beside outDir ($OUT.compile.log,
# $OUT.verify.log); tools/coverage_check.py then checks the registry
# against COVERAGE.md.
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.001}
OUT=${2:-/tmp/verify_out}
mkdir -p "$(dirname "$OUT")"
# copyResources matters: the graftlog DataSourceRegister service file lives in
# src/main/resources and `compile` alone never lands it in target/classes — a
# cleaned target silently unregisters the source (every tl* gate NOSPARKs).
sbt -batch "compile; Compile/copyResources" > "$OUT.compile.log" 2>&1 || { tail -30 "$OUT.compile.log"; exit 1; }
CP="target/scala-2.13/classes:$(ls -d /opt/spark/jars)/*"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
rm -rf "$OUT"
java $ADD_OPENS -Xmx8g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Verify "$SF" "$OUT" 2>"$OUT.verify.log" \
  || { tail -30 "$OUT.verify.log"; exit 1; }
grep -E "\[verify\]" "$OUT.verify.log" || true
python3 tools/check.py "$SF" "$OUT"
python3 tools/coverage_check.py "$OUT"
