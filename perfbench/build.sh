#!/bin/bash
# Compiles the engine's main sources together with the benchmark harness
# into $CARGO_TARGET_DIR/classes (default .bench_build/classes), with the
# Scala compiler that ships in the Spark distribution, and copies the
# engine's main resources beside them. Run from the repository root with
# SPARK_JARS (a Spark distribution's jars directory) or SPARK_HOME set.
set -euo pipefail
SPARK_JARS="${SPARK_JARS:-$SPARK_HOME/jars}"
OUT="${CARGO_TARGET_DIR:-.bench_build}/classes"
[ -d src/main/scala ] || { echo "build.sh: no engine sources under src/main/scala" >&2; exit 2; }
rm -rf "$OUT"
mkdir -p "$OUT"
find src/main/scala perfbench/scala -name '*.scala' | sort > "$OUT.sources"
java -XX:-UsePerfData -Xss16m -Xmx2g -cp "$SPARK_JARS/*" scala.tools.nsc.Main -nowarn \
  -d "$OUT" -cp "$SPARK_JARS/*" @"$OUT.sources"
[ -d src/main/resources ] && cp -r src/main/resources/. "$OUT"/
exit 0
