#!/usr/bin/env bash
# Code lines under src/main/scala: non-blank lines once /* ... */ blocks
# and // comments are stripped. Run from anywhere; prints one number.
set -euo pipefail
cd "$(dirname "$0")/.."
find src/main/scala -name '*.scala' -print0 | xargs -0 cat \
  | perl -0pe 's{/\*.*?\*/}{}gs' | sed 's://.*$::' | grep -cv '^\s*$'
