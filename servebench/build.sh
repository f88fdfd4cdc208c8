#!/usr/bin/env bash
# Compile the engine (src/main/scala) and the benchmark (servebench/src)
# into <out>/classes, and the benchmark's self-tests (servebench/test)
# into <out>/test-classes, with the Scala compiler that ships in the Spark
# distribution's jars directory. Usage: servebench/build.sh <out> <spark jars dir>
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="${1:?usage: build.sh <out dir> <spark jars dir>}"
jars="${2:?usage: build.sh <out dir> <spark jars dir>}"
[ -d "$root/src/main/scala" ] || { echo "no engine sources at $root/src/main/scala" >&2; exit 2; }
scalac() {
  java -XX:-UsePerfData -Xmx2g -Xss8m -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn "$@"
}
rm -rf "$out/classes" "$out/test-classes"
mkdir -p "$out/classes" "$out/test-classes"
find "$root/src/main/scala" "$root/servebench/src" -name '*.scala' | sort > "$out/sources.txt"
scalac -d "$out/classes" @"$out/sources.txt"
find "$root/servebench/test" -name '*.scala' | sort > "$out/test-sources.txt"
scalac -cp "$out/classes" -d "$out/test-classes" @"$out/test-sources.txt"
