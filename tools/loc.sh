#!/bin/bash
# Counted source lines per file under src/main, then the total.
# A line counts when it is not blank and its first non-space characters
# are not `//`, `/*` or `*` (so scaladoc and comment blocks do not count).
# Usage: tools/loc.sh [dir]    (default: src/main of this checkout)
set -euo pipefail
cd "$(dirname "${BASH_SOURCE[0]}")/.."
find "${1:-src/main}" -type f -name '*.scala' | sort | xargs awk '
  FNR == 1 && NR > 1 { print n "\t" prev; total += n; n = 0 }
  { prev = FILENAME; line = $0; sub(/^[ \t]+/, "", line) }
  line != "" && line !~ /^(\/\/|\/\*|\*)/ { n++ }
  END { print n "\t" prev; total += n; print total "\ttotal" }'
