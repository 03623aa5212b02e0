#!/usr/bin/env bash
# Compile the library sources (src/main/scala) and the benchmark sources
# (perfbench/scala) into one class directory with the Scala compiler that
# ships in the Spark jars; no sbt, no network.
#
# Usage: bash perfbench/build.sh <out-dir>     (run from the repository root)
set -euo pipefail
out="$1"
jars="${SPARK_HOME:?set SPARK_HOME to the Spark installation}/jars"
compiler="$(ls "$jars"/scala-compiler-2.13.*.jar | head -1)"
library="$(ls "$jars"/scala-library-2.13.*.jar | head -1)"
reflect="$(ls "$jars"/scala-reflect-2.13.*.jar | head -1)"
test -d src/main/scala || { echo "build.sh: no src/main/scala under $(pwd)" >&2; exit 2; }
rm -rf "$out"
mkdir -p "$out"
find src/main/scala perfbench/scala -name '*.scala' | sort > "$out/.sources"
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$compiler:$library:$reflect" scala.tools.nsc.Main \
  -usejavacp -nowarn -classpath "$jars/*" -d "$out" @"$out/.sources"
