#!/bin/bash
# Code-line count of the Scala sources: every line of src/main and
# src/test except blank lines and comment lines (lines starting with
# `//`, `/**` or a scaladoc `*`), and the same count for
# src/main/scala/graft/operators, where the snapshot store lives. Then
# the three longest .scala files under src/main by raw line count,
# which tracks the file-size target.
# Prints only. Usage: scripts/loc.sh [repo root]
cd "${1:-$(dirname "$0")/..}"
for d in src/main src/main/scala/graft/operators src/test; do
  n=$(find "$d" -name '*.scala' -print0 | xargs -0 cat |
    grep -ahvE '^\s*(\*|/\*\*|//|$)' | wc -l)
  echo "$d $n"
done
echo "longest src/main files (raw lines):"
find src/main -name '*.scala' -print0 | xargs -0 wc -l |
  grep -v ' total$' | sort -rn | head -3
