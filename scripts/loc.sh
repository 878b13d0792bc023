#!/bin/bash
# Code-line count of the Scala sources: every line of src/main and
# src/test except blank lines and comment lines (lines starting with
# `//`, `/**` or a scaladoc `*`). Usage: scripts/loc.sh [repo root]
cd "${1:-$(dirname "$0")/..}"
for d in src/main src/test; do
  n=$(find "$d" -name '*.scala' -print0 | xargs -0 cat |
    grep -ahvE '^\s*(\*|/\*\*|//|$)' | wc -l)
  echo "$d $n"
done
