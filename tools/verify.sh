#!/bin/bash
# Build + run graft.Verify + diff against the DuckDB oracle locally.
# Usage: tools/verify.sh [sfDir] [only_prefix]
set -e
cd /root/repo
SF=${1:-/root/testdata/sf0.01}
OUT=${OUT:-/tmp/graft_verify}
sbt -batch package > /tmp/sbt_package.log 2>&1 || { tail -40 /tmp/sbt_package.log; exit 1; }
JAR=$(ls target/scala-2.13/*.jar | head -1)
rm -rf "$OUT"
/opt/spark/bin/spark-submit \
  --master "local[${SPARK_GRAFT_CPUS:-8}]" \
  --driver-memory 8g \
  --conf "spark.driver.extraJavaOptions=-XX:ReservedCodeCacheSize=1g" \
  --class graft.Verify "$JAR" "$SF" "$OUT" "${2:-}" 2> /tmp/verify_stderr.log \
  || { tail -40 /tmp/verify_stderr.log; exit 1; }
grep '\[verify\]' /tmp/verify_stderr.log || true
python3 tools/selfcheck.py "$SF" "$OUT" "${2:-}"
