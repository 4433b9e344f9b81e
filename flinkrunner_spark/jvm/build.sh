#!/usr/bin/env bash
# Rebuild nio-local-fs.jar from NioLocalFileSystem.java.
#
# Compiles for Java 17 against the Hadoop client API jar of the Spark in
# $SPARK_HOME, and stamps the sha256 of the source into the manifest
# (Source-SHA256) so a test can tell the jar was built from the source
# next to it. Run: SPARK_HOME=/path/to/spark flinkrunner_spark/jvm/build.sh
set -euo pipefail

here="$(cd "$(dirname "$0")" && pwd)"
src="$here/NioLocalFileSystem.java"
api="$(ls "${SPARK_HOME:?set SPARK_HOME}"/jars/hadoop-client-api-*.jar | head -n 1)"
out="$(mktemp -d)"
trap 'rm -rf "$out"' EXIT

javac --release 17 -nowarn -cp "$api" -d "$out/classes" "$src"
printf 'Source-SHA256: %s\n' "$(sha256sum "$src" | cut -d' ' -f1)" > "$out/manifest.txt"
jar --create --file "$here/nio-local-fs.jar" --manifest "$out/manifest.txt" \
  -C "$out/classes" .
echo "wrote $here/nio-local-fs.jar"
