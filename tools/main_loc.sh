#!/usr/bin/env bash
# Main-source size: total lines and code lines of src/main.
# Code = not blank, not a `//` comment, not a scaladoc/block-comment
# line (one starting with `*`, `/*` or `/**`).
#
# Usage: tools/main_loc.sh
set -euo pipefail
cd "$(dirname "$0")/.."
files=$(find src/main -name '*.scala' -o -name '*.java' | sort)
total=$(cat $files | wc -l)
code=$(cat $files | grep -cvE '^\s*$|^\s*//|^\s*/?\*')
echo "total $total"
echo "code $code"
