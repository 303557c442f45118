#!/usr/bin/env bash
# Code-line counter, the one rule net-LoC claims in CHANGES.md use: a line
# counts unless it is blank or its first non-blank characters are `//`,
# `/*` or `*` (a comment line).
# Usage: tools/loc.sh <dir-or-file>...
#   prints "<count> <file>" per .scala file, sorted by path, then
#   "<count> total" over all of them.
set -euo pipefail
if [[ $# -eq 0 ]]; then
  echo "usage: tools/loc.sh <dir-or-file>..." >&2
  exit 2
fi
find "$@" -type f -name '*.scala' | LC_ALL=C sort | while IFS= read -r f; do
  n=$(grep -cvE '^[[:space:]]*($|//|/\*|\*)' "$f" || true)
  echo "$n $f"
done | awk '{ print; total += $1 } END { print total + 0, "total" }'
