#!/bin/sh
# Prints the size counters of the program sources under src/main:
#   code_lines      non-blank lines that are not comment lines
#   scala_files     .scala files
#   codegen_sites   hand-written defineCodeGen/nullSafeCodeGen calls
#   local_checkpoints  code lines that call localCheckpoint (comment
#                      lines that only mention it are not counted)
# Run from the root of a checkout: sh tools/size_report.sh
set -eu
dir=${1:-src/main}
files=$(find "$dir" -name '*.scala' | sort)
code_only() {
  # shellcheck disable=SC2086
  awk '{s=$0; gsub(/^[ \t]+/,"",s); if (s!="" && s !~ /^(\/\/|\/\*|\*)/) print}' $files
}
echo "code_lines $(code_only | wc -l)"
echo "scala_files $(echo "$files" | grep -c .)"
echo "codegen_sites $(code_only | grep -c 'defineCodeGen\|nullSafeCodeGen' || true)"
echo "local_checkpoints $(code_only | grep -c 'localCheckpoint' || true)"
