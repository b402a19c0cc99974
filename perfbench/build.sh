#!/usr/bin/env bash
# Build file of the benchmark package: compiles the program's main sources
# (src/main/scala) together with the harness (perfbench/src) into one class
# directory, with the Scala compiler that ships in the Spark distribution.
# The jars under $SPARK_HOME/jars are the whole classpath, as in build.sbt.
#
#   perfbench/build.sh <out-dir>
set -euo pipefail
here="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
root="$(dirname "$here")"
out="$1"
if [ -z "${SPARK_HOME:-}" ]; then
  SPARK_HOME="$(dirname "$(dirname "$(command -v spark-submit)")")"
fi
cp="$(ls "$SPARK_HOME"/jars/*.jar | tr '\n' ':')"
rm -rf "$out"
mkdir -p "$out"
find "$root/src/main/scala" "$here/src" -name '*.scala' > "$out.sources"
java -XX:-UsePerfData -Djava.io.tmpdir="$(dirname "$out")" -Xss8m -Xmx2g \
  -cp "$cp" scala.tools.nsc.Main -nowarn -d "$out" -classpath "$cp" "@$out.sources"
rm -f "$out.sources"
if [ -d "$root/src/main/resources" ]; then cp -r "$root/src/main/resources/." "$out/"; fi
