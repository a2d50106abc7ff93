#!/usr/bin/env bash
# Runs one benchmark workload from the repository root:
#   bash perfbench/run.sh --workload <name> --seed <n> --seconds <s> --trace <0|1>
# Builds the library and the driver first when their sources changed.
set -euo pipefail
bash perfbench/build.sh
jars="$(cat .bench_build/perfbench/spark-jars)"
opens=(java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio
  java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs
  sun.security.action sun.util.calendar)
jvm=(-Xmx3g -Xss8m -XX:-UsePerfData --add-modules=jdk.incubator.vector -Dspark.ui.enabled=false
  -Dspark.sql.session.timeZone=UTC -Djava.io.tmpdir=.bench_build/perfbench/tmp)
for p in "${opens[@]}"; do jvm+=(--add-opens "java.base/$p=ALL-UNNAMED"); done
mkdir -p .bench_build/perfbench/tmp
exec java "${jvm[@]}" -cp ".bench_build/perfbench/classes:$jars/*" perfbench.Main "$@"
