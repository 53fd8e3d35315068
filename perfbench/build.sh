#!/usr/bin/env bash
# Build file of the benchmark: compiles graft's main sources together
# with the benchmark driver (perfbench/src) into the directory given as
# the first argument, with the Scala compiler that ships among the Spark
# jars. Run from the root of a checkout (perfbench/run.py calls it):
#
#   SPARK_JARS_DIR=<spark>/jars bash perfbench/build.sh .bench_build/classes
set -euo pipefail
out=${1:?usage: build.sh <classes-dir>}
jars=${SPARK_JARS_DIR:?set SPARK_JARS_DIR to the Spark jars directory}
[ -d src/main/scala/graft ] || { echo "build.sh: no graft sources under src/main/scala" >&2; exit 2; }
ls "$jars"/scala-compiler-*.jar >/dev/null
mkdir -p "$out"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.sources"
java -Xmx2g -Xss8m -cp "$jars/*" scala.tools.nsc.Main -nowarn -deprecation:false \
  -d "$out" -classpath "$jars/*" @"$out.sources"
rm -f "$out.sources"
