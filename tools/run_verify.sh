#!/bin/bash
# Run graft.Verify against a scale-factor dir without sbt startup overhead.
# Usage: tools/run_verify.sh [sfdir] [outdir]
set -e
SFDIR=${1:-/root/testdata/sf0.001}
OUTDIR=${2:-/tmp/graft_verify}
# the classes of the checkout this script sits in, so a copy of the repo
# verifies its own build
CLASSES="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes"
if [ ! -d "$CLASSES" ]; then
  echo "run_verify.sh: no compiled classes at $CLASSES;" \
    "run 'sbt compile' in that checkout first" >&2
  exit 1
fi
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
rm -rf "$OUTDIR"
exec java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" graft.Verify "$SFDIR" "$OUTDIR"
