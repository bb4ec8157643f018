#!/usr/bin/env bash
# Count non-blank, non-comment lines of src/main/scala, per package.
# A line is skipped when, after indentation, it starts with //, * or /**.
# Usage: scripts/loc.sh [ROOT]   (ROOT defaults to the repository root)
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
cd "$root/src/main/scala"
find . -name '*.scala' | sort | while read -r f; do
  pkg=$(dirname "${f#./}" | tr / .)
  n=$(awk '{ sub(/^[ \t]+/, "") } $0 != "" && !/^\/\// && !/^\*/ && !/^\/\*\*/ { c++ } END { print c + 0 }' "$f")
  printf '%s\t%s\n' "$pkg" "$n"
done | awk -F'\t' '{ s[$1] += $2; t += $2 } END { for (p in s) printf "%-24s %7d\n", p, s[p] | "sort"; close("sort"); printf "%-24s %7d\n", "total", t }'
