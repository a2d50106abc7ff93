#!/usr/bin/env bash
# Compiles the library (src/main) and the benchmark driver (perfbench/src)
# into .bench_build/perfbench/classes with the Scala compiler that ships in
# Spark's jar directory. Skips the compile when the sources are unchanged.
#   usage: bash perfbench/build.sh   (from the repository root)
set -euo pipefail
out=.bench_build/perfbench
# Spark's jars: $SPARK_HOME/jars, else the jars directory beside the
# spark-submit on the PATH; run.sh reads the choice back from $out
if [ -z "${SPARK_HOME:-}" ] && command -v spark-submit > /dev/null; then
  SPARK_HOME="$(cd "$(dirname "$(readlink -f "$(command -v spark-submit)")")/.." && pwd)"
fi
jars="${SPARK_HOME:-}/jars"
if [ -z "${SPARK_HOME:-}" ] || [ ! -d "$jars" ]; then
  echo "perfbench: no Spark jars (set SPARK_HOME or put spark-submit on the PATH)" >&2
  exit 2
fi
lib=src/main
if [ ! -d "$lib/scala/graft" ] || [ ! -d perfbench/src ]; then
  echo "perfbench: run from the repository root (needs $lib/scala/graft and perfbench/src)" >&2
  exit 2
fi
stamp="$(find "$lib" perfbench/src -type f -print0 | sort -z | xargs -0 sha1sum | sha1sum | cut -c1-40)"
mkdir -p "$out"
echo "$jars" > "$out/spark-jars"
if [ -f "$out/classes/.stamp" ] && [ "$(cat "$out/classes/.stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out/classes" "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
mapfile -t scala_src < <(find "$lib" perfbench/src -name '*.scala' -o -name '*.java' | sort)
mapfile -t java_src < <(find "$lib" -name '*.java' | sort)
echo "perfbench: compiling ${#scala_src[@]} sources" >&2
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes.tmp" -classpath "$jars/*" "${scala_src[@]}"
if [ "${#java_src[@]}" -gt 0 ]; then
  javac -encoding UTF-8 --add-modules jdk.incubator.vector -nowarn -d "$out/classes.tmp" \
    -cp "$out/classes.tmp:$jars/*" "${java_src[@]}"
fi
if [ -d "$lib/resources" ]; then cp -r "$lib/resources/." "$out/classes.tmp/"; fi
echo "$stamp" > "$out/classes.tmp/.stamp"
mv "$out/classes.tmp" "$out/classes"
