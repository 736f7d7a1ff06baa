#!/bin/bash
# Build file of the benchmark: compiles the engine (src/main/scala) and the
# benchmark harness (perfbench/harness) into one class directory with the
# Scala compiler that ships among the Spark jars. No sbt, no downloads.
#
# Usage: perfbench/build.sh <jars-dir> <out-dir>   (run from the repo root)
set -euo pipefail
jars="$1"
out="$2"
if [ ! -d src/main/scala ] || [ ! -d perfbench/harness ]; then
  echo "build.sh: run from the repository root (src/main/scala not found)" >&2
  exit 2
fi
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/harness -name '*.scala' > "$out.tmp.sources"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.tmp" -classpath "$jars/*" @"$out.tmp.sources"
rm -f "$out.tmp.sources"
rm -rf "$out"
mv "$out.tmp" "$out"
