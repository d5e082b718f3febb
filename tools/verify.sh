#!/bin/bash
# Local mirror of the driver's correctness gate: compile, run graft.Verify
# at the given SF, then hash-compare each query against its DuckDB oracle.
set -e
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="${2:-/tmp/graft_verify}"
cd "$(dirname "$0")/.."
# every public def in src/main must be reached (tools/surface.py lists
# the ones that are not and exits 1)
python3 tools/surface.py || { echo "unreached public defs: stopping"; exit 1; }
sbt -batch compile > /tmp/sbt_compile.log 2>&1 || { tail -30 /tmp/sbt_compile.log; exit 1; }
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
rm -rf "$OUT_DIR"
# optional 3rd arg: comma-separated query subset (forwarded to Verify;
# check.py then only sees the dumped subset via CHECK_ONLY_PRESENT)
SUBSET="${3:-}"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Verify "$SF_DIR" "$OUT_DIR" $SUBSET
if [ -n "$SUBSET" ]; then
  CHECK_ONLY_PRESENT=1 python3 tools/check.py "$SF_DIR" "$OUT_DIR"
else
  python3 tools/check.py "$SF_DIR" "$OUT_DIR"
fi
