#!/bin/bash
# Dev-only: run graft.Verify on a query subset without sbt (uses compiled
# classes directly), then the local DuckDB compare of the same subset; exits
# 0 exactly when every named query passes. Usage:
#   tools/verify_subset.sh "name1,name2" [sf_dir] [out_dir]
set -e
ONLY="$1"
SF="${2:-/root/testdata/sf0.01}"
OUT="${3:-/tmp/verify_subset}"
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED \
 --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
 --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
 --add-opens=java.base/java.io=ALL-UNNAMED \
 --add-opens=java.base/java.net=ALL-UNNAMED \
 --add-opens=java.base/java.nio=ALL-UNNAMED \
 --add-opens=java.base/java.util=ALL-UNNAMED \
 --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
 --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
 --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
 --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
 --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
 --add-opens=java.base/sun.security.action=ALL-UNNAMED \
 --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
rm -rf "$OUT"
export SPARK_GRAFT_ONLY="$ONLY"
java $ADD_OPENS -Xmx8g -cp "$CP" graft.Verify "$SF" "$OUT"
python3 tools/check.py "$SF" "$OUT"
