#!/bin/sh
# Builds hailstorm-localfs.jar from src/ against pyspark's bundled Hadoop
# jars (nothing is downloaded). Entry dates are pinned and the jar has no
# manifest, so the same javac gives the same bytes.
#
#   hailstorm_spark/jvm/build.sh [OUT_DIR]    (default: this directory)
set -eu
here=$(cd "$(dirname "$0")" && pwd)
out=$(cd "${1:-$here}" && pwd)
jars=$(python3 -c 'import os, pyspark; print(os.path.join(os.path.dirname(pyspark.__file__), "jars"))')
classes=$(mktemp -d)
trap 'rm -rf "$classes"' EXIT
javac --release 17 -cp "$jars/*" -d "$classes" "$here"/src/hailstorm/fs/*.java
cd "$classes"
jar --create --no-manifest --date=2026-01-01T00:00:00Z --file "$out/hailstorm-localfs.jar" \
    $(find hailstorm -name '*.class' | LC_ALL=C sort)
