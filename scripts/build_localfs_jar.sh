#!/usr/bin/env bash
# Rebuild kafkasparkstream_spark/jvm/nio-localfs.jar from the Java source beside it.
#
#   scripts/build_localfs_jar.sh           # rewrite the committed jar
#   scripts/build_localfs_jar.sh OUT.jar   # build it somewhere else
#
# Needs a JDK 17 or newer (javac, jar) and pyspark, whose hadoop-client-api jar
# is the compile classpath. The jar has no manifest and fixed entry times, so a
# rebuild with the same sources is byte-equal to the committed one.
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="$(realpath -m "${1:-$root/kafkasparkstream_spark/jvm/nio-localfs.jar}")"
jars="$(python3 -c 'import os, pyspark; print(os.path.join(os.path.dirname(pyspark.__file__), "jars"))')"
api=("$jars"/hadoop-client-api-*.jar)
classes="$(mktemp -d)"
trap 'rm -rf "$classes"' EXIT
javac --release 17 -encoding UTF-8 -nowarn -cp "${api[0]}" -d "$classes" \
  "$root/kafkasparkstream_spark/jvm/NioLocalFileSystem.java"
cd "$classes"
rm -f "$out"
find . -name '*.class' | LC_ALL=C sort \
  | xargs jar --create --no-manifest --date=2026-01-01T00:00:00Z --file "$out"
