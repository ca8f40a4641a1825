#!/usr/bin/env bash
# Build file of the benchmark: compiles graft (src/main/scala) together
# with the benchmark's own sources (perfbench/src) into one jar, using
# the Scala compiler that ships with Spark's jars, then records a class
# data sharing archive from a short training run so that every
# benchmark JVM starts without re-parsing Spark's classes. The runs
# start only from that archive, so the build fails without it.
#
#   bash perfbench/build.sh <output-dir>
#
# Needs SPARK_HOME (a Spark 4 / Scala 2.13 install) and a JDK on PATH.
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="$1"
jars="${SPARK_HOME:?SPARK_HOME must name a Spark install}/jars"
if [ ! -d "$root/src/main/scala/graft" ]; then
  echo "build: no graft sources under $root/src/main/scala" >&2
  exit 2
fi
rm -rf "$out"
mkdir -p "$out/classes"
cp="$(printf '%s:' "$jars"/*.jar)"
find "$root/src/main/scala" "$root/perfbench/src" -name '*.scala' | sort > "$out/sources.txt"
java -Xss16m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes" -classpath "$cp" @"$out/sources.txt"
jar cf "$out/perfbench.jar" -C "$out/classes" .
rm -rf "$out/classes"
python3 "$root/perfbench/run.py" --train "$out" >&2
if [ ! -s "$out/perfbench.jsa" ]; then
  echo "build: the training run left no class data sharing archive" >&2
  exit 3
fi
