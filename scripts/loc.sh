#!/usr/bin/env bash
# Code size of the library: non-blank, non-comment lines of every .scala
# file under src/main/scala (a line is dropped when it is blank or, after
# its indentation, starts with `//`, `/*` or `*`; trailing comments count).
# Prints one "<lines> <file>" row per file, largest first, then the total.
# Usage: scripts/loc.sh [dir]   (default src/main/scala)
set -euo pipefail
cd "$(dirname "$0")/.."
DIR="${1:-src/main/scala}"
find "$DIR" -name '*.scala' -print0 | xargs -0 awk '
  FNR == 1 { n[FILENAME] = 0 }
  !/^[[:space:]]*($|\/\/|\/\*|\*)/ { n[FILENAME]++ }
  END { for (f in n) printf "%6d %s\n", n[f], f }
' | sort -k1,1rn -k2 | awk '{ print; t += $1 } END { printf "%6d total\n", t }'
