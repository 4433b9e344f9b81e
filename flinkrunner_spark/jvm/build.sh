#!/usr/bin/env bash
# Rebuild flinkrunner-jvm.jar from every *.java next to this script.
#
# Compiles for Java 17 against the jars of the Spark in $SPARK_HOME, and
# stamps the sha256 of each source into the manifest, one section per
# source (Name: <file>.java, Source-SHA256: <hex>), so a test can tell the
# jar was built from the sources next to it.
# Run: SPARK_HOME=/path/to/spark flinkrunner_spark/jvm/build.sh
set -euo pipefail

here="$(cd "$(dirname "$0")" && pwd)"
out="$(mktemp -d)"
trap 'rm -rf "$out"' EXIT

srcs=("$here"/*.java)
javac --release 17 -nowarn -cp "${SPARK_HOME:?set SPARK_HOME}/jars/*" \
  -d "$out/classes" "${srcs[@]}"
for src in "${srcs[@]}"; do
  printf '\nName: %s\nSource-SHA256: %s\n' \
    "$(basename "$src")" "$(sha256sum "$src" | cut -d' ' -f1)"
done > "$out/manifest.txt"
jar --create --file "$here/flinkrunner-jvm.jar" --manifest "$out/manifest.txt" \
  -C "$out/classes" .
echo "wrote $here/flinkrunner-jvm.jar"
