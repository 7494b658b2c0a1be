#!/bin/bash
# Local verify runner: compile once with sbt, then run graft.Verify with a
# plain java classpath (much faster than sbt runMain per iteration).
# Builds and runs the checkout this script lives in, wherever it is.
set -e
SF_DIR=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
ROOT=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)
cd "$ROOT"
sbt -batch compile 2>&1 | grep -E '\[error\]|\[success\]' | tail -3
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.security.action=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
rm -rf "$OUT"
exec java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF_DIR" "$OUT"
