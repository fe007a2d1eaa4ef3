#!/usr/bin/env bash
# Build file of the benchmark: compiles the graft library sources
# (src/main/scala) together with the benchmark sources (perfbench/src) into
# one jar, with the Scala compiler that ships in Spark's jars.
#
# Usage, from the repository root:
#   bash perfbench/build.sh <jar> <spark-jar-directory>
set -euo pipefail

out="$1"
jars="$2"
compiler=$(ls "$jars"/scala-compiler-2.13.*.jar "$jars"/scala-library-2.13.*.jar \
  "$jars"/scala-reflect-2.13.*.jar | paste -sd: -)

for d in src/main/scala perfbench/src; do
  [ -d "$d" ] || { echo "build.sh: $d not found; run from the repository root" >&2; exit 2; }
done

classes="$out.classes"
rm -rf "$classes" "$out"
mkdir -p "$classes"
find src/main/scala perfbench/src -name '*.scala' | sort > "$classes.sources"
java -Xss8m -Xmx2g -cp "$compiler" scala.tools.nsc.Main \
  -nowarn -d "$classes" -classpath "$jars/*" @"$classes.sources"
jar cf "$out" -C "$classes" .
rm -rf "$classes" "$classes.sources"
