#!/usr/bin/env bash
# Print the Scala line counts of the main and test sources (the main
# count is the figure CHANGES.md records whenever it moves).
# Usage: tools/loc.sh   (from any directory inside the repo)
set -euo pipefail
cd "$(dirname "$0")/.."
for tree in src/main/scala src/test/scala; do
  printf '%s\t%s\n' "$tree" "$(find "$tree" -name '*.scala' -print0 | xargs -0 cat | wc -l)"
done
