#!/usr/bin/env bash
# Build file of the benchmark: compiles graft's main sources together with
# the benchmark harness (perfbench/src) into one class directory, using the
# Scala compiler that ships in the Spark distribution's jars.
#
# Usage: bash perfbench/build.sh <out_dir> <spark_jar_dir>   (from the repo root)
set -euo pipefail
out="$1"
jars="$2"
[ -f src/main/scala/graft/SparkEntry.scala ] || { echo "build: no graft sources under $(pwd)" >&2; exit 2; }
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.tmp/.sources"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.tmp" -cp "$jars/*" @"$out.tmp/.sources"
rm -rf "$out"
mv "$out.tmp" "$out"
