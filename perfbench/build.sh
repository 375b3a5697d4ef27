#!/usr/bin/env bash
# Build file of the benchmark: compiles the engine (src/main/scala) together
# with the benchmark's own sources (perfbench/src) into perfbench/.build,
# with the Scala 2.13 compiler and classpath that ship in the Spark jars
# directory build.sbt names as its unmanagedBase. Skips the compile when no
# source file changed since the last one. Writes the jars directory to
# perfbench/.build/jars for run.py. Run from the repo root.
set -euo pipefail
out=perfbench/.build
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala under $(pwd)" >&2; exit 2; }
jars=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' build.sbt)
[ -n "$jars" ] && [ -d "$jars" ] || { echo "build.sh: no Spark jars dir in build.sbt" >&2; exit 2; }
mapfile -t srcs < <(find src/main/scala perfbench/src -name '*.scala' | sort)
stamp=$( (printf '%s\n' "${srcs[@]}"; cat "${srcs[@]}" src/main/resources/* 2>/dev/null) | sha256sum | cut -d' ' -f1)
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then exit 0; fi
rm -rf "$out"; mkdir -p "$out/classes"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out/classes" "${srcs[@]}"
if [ -d src/main/resources ]; then cp -r src/main/resources/. "$out/classes/"; fi
echo "$jars" > "$out/jars"
echo "$stamp" > "$out/stamp"
