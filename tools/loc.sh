#!/usr/bin/env bash
# Non-comment, non-blank line count of Scala sources: blank lines and lines
# whose first non-blank characters are `//`, `*` or `/**` are dropped.
#   tools/loc.sh            one total over src/main
#   tools/loc.sh FILE...    one count per file
set -euo pipefail
cd "$(dirname "$0")/.."

count() {
  grep -cvE '^[[:space:]]*($|//|\*|/\*\*)' "$@" || true
}

if [ "$#" -eq 0 ]; then
  find src/main -name '*.scala' -print0 | sort -z | xargs -0 cat | count
else
  for f in "$@"; do
    printf '%s\t%s\n' "$(count "$f")" "$f"
  done
fi
