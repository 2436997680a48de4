#!/bin/bash
# Bare-java MlBench soak launcher: replicates build.sbt's forked JVM
# flags (JDK17 --add-opens + ParallelGC + 24g heap) so measurements run
# against the SAME engine sbt forks, without holding the sbt lock.
# Usage: scripts/soakrun.sh <classesDir> <harnessClassesDir> <args...>
#   the library's classes (target/scala-2.13/classes) and the harness
#   subproject's (harness/target/scala-2.13/classes), after
#   `sbt Test/compile`; copy both elsewhere first to keep compiling
#   while a soak runs, e.g.
#   scripts/soakrun.sh /tmp/graft-classes /tmp/graft-harness-classes 2000000 starab
CLASSES="$1:$2"; shift 2
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# honor the same env overrides build.sbt honors, or A/Bs recorded as
# same-engine would silently diverge (GC choice, bin size)
BINSIZE_FLAG=""
[ -n "$SPARK_GRAFT_BINSIZE" ] && BINSIZE_FLAG="-Dspark.graft.join.binSize=$SPARK_GRAFT_BINSIZE"
# SOAKRUN_EXTRA_JVM: extra -D/-XX flags for one-off A/Bs (e.g. a
# compression-codec study) without editing the script
exec java $OPENS "-XX:+Use${SPARK_GRAFT_GC:-Parallel}GC" "-Xmx${SPARK_DRIVER_MEM:-24g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC $BINSIZE_FLAG \
  $SOAKRUN_EXTRA_JVM \
  -cp "/opt/spark/jars/*:$CLASSES" graft.MlBench "$@"
