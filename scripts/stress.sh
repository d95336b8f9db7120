#!/usr/bin/env bash
# Fresh-JVM stress sweep (dev tool): one java process per amplification
# point, so per-point wall times carry no accumulated-JVM state (the
# one-JVM loop measured the 16x CC at 162.8s; a fresh JVM runs the
# identical work in ~33s). The work metrics (edges, rounds, shuffle
# bytes) are run-invariant either way; this makes the SECONDS columns
# trustworthy too.
#
# Usage: [SPARK_GRAFT_SF_DIR=...] [STRESS_AMPS=1,2,4,8,16] scripts/stress.sh
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
AMPS="${STRESS_AMPS:-1,2,4,8,16}"
MEM="${STRESS_DRIVER_MEM:-16g}"

sbt -batch compile >/dev/null

# Full runtime classpath: project classes + the Spark distribution jars
# (which already ship scala-library/scala-reflect 2.13).
CP="target/scala-2.13/classes:/opt/spark/jars/*"

# Same JDK17 module opens build.sbt passes to forked runs.
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

run_fresh() { # sections amps
  # shellcheck disable=SC2086
  STRESS_SECTIONS="$1" STRESS_AMPS="$2" SPARK_GRAFT_SF_DIR="$SF" \
    java -Xmx"$MEM" $OPENS -Dspark.ui.enabled=false \
    -cp "$CP" graft.tools.Stress
}

for amp in ${AMPS//,/ }; do
  echo "### fresh JVM: amp sweep point $amp" >&2
  run_fresh amps "$amp"
done

for amp in ${AMPS//,/ }; do
  echo "### fresh JVM: session-close sweep point $amp" >&2
  run_fresh sessions "$amp"
done

for amp in ${AMPS//,/ }; do
  echo "### fresh JVM: hot-key session sweep point $amp" >&2
  run_fresh hotkey "$amp"
done

for amp in ${AMPS//,/ }; do
  echo "### fresh JVM: range-join rewrite sweep point $amp" >&2
  run_fresh rangejoin "$amp"
done

for amp in ${AMPS//,/ }; do
  echo "### fresh JVM: containment prefix sweep point $amp" >&2
  run_fresh containment "$amp"
done

for amp in ${AMPS//,/ }; do
  echo "### fresh JVM: containment density sweep point $amp" >&2
  run_fresh containmentdensity "$amp"
done

for amp in ${AMPS//,/ }; do
  echo "### fresh JVM: range-join rule on/off comparison point $amp" >&2
  run_fresh rangejoincmp "$amp"
done

for amp in ${AMPS//,/ }; do
  echo "### fresh JVM: as-of SQL rewrite on/off point $amp" >&2
  run_fresh asofsqlcmp "$amp"
done

for amp in ${AMPS//,/ }; do
  echo "### fresh JVM: as-of hot-key plain/salted point $amp" >&2
  run_fresh asofhotkey "$amp"
done

echo "### fresh JVM: trigger-granularity sweep (amp ${AMPS##*,})" >&2
run_fresh chunks "$AMPS"
