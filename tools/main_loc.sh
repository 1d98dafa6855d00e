#!/usr/bin/env bash
# Main-source size: total lines and code lines of src/main, the number
# of mains, and the number of distinct environment knobs.
# Code = not blank, not a `//` comment, not a scaladoc/block-comment
# line (one starting with `*`, `/*` or `/**`).
# mains = files under src/main that define `def main(`.
# env_knobs = distinct "SPARK_GRAFT_*" string literals under src/main
# (the names the library reads from the environment).
# orphan_docs = lines ending a block comment (`*/`) directly followed
# by a line opening a scaladoc (`/**`): the first doc is attached to
# nothing, so scaladoc drops it. Should read 0.
#
# Usage: tools/main_loc.sh
set -euo pipefail
cd "$(dirname "$0")/.."
files=$(find src/main -name '*.scala' -o -name '*.java' | sort)
total=$(cat $files | wc -l)
code=$(cat $files | grep -cvE '^\s*$|^\s*//|^\s*/?\*')
mains=$(grep -lE 'def main\(' $files | wc -l)
knobs=$(cat $files | grep -oE '"SPARK_GRAFT_[A-Z0-9_]+"' | sort -u | wc -l)
orphans=$(awk 'FNR > 1 && prev ~ /\*\/[[:space:]]*$/ &&
  $0 ~ /^[[:space:]]*\/\*\*/ { n++ } { prev = $0 } END { print n + 0 }' $files)
echo "total $total"
echo "code $code"
echo "mains $mains"
echo "env_knobs $knobs"
echo "orphan_docs $orphans"
