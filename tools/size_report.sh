#!/bin/sh
# Prints the size counters of the program sources under src/main:
#   code_lines      non-blank lines that are not comment lines
#   scala_files     .scala files
#   codegen_sites   hand-written defineCodeGen/nullSafeCodeGen calls
#   local_checkpoints  code lines that call localCheckpoint (comment
#                      lines that only mention it are not counted)
#   default_params  parameters declared with a default value: each
#                   "name: Type = " on a code line, after string literals
#                   are blanked, that no val/var/def keyword precedes
#                   ("=>", "==" and "<=" are not defaults)
# With --by-file it prints instead the local_checkpoints count of each
# file that has any, one "<count> <file>" line each, highest first.
# Run from the root of a checkout: sh tools/size_report.sh [--by-file] [dir]
# shellcheck disable=SC2086 # $files is a word list on purpose
set -eu
by_file=0
if [ "${1:-}" = "--by-file" ]; then by_file=1; shift; fi
dir=${1:-src/main}
files=$(find "$dir" -name '*.scala' | sort)
code_only() {
  awk '{s=$0; gsub(/^[ \t]+/,"",s); if (s!="" && s !~ /^(\/\/|\/\*|\*)/) print}' "$@"
}
if [ "$by_file" = 1 ]; then
  for f in $files; do
    n=$(code_only "$f" | grep -c 'localCheckpoint' || true)
    if [ "$n" -gt 0 ]; then echo "$n $f"; fi
  done | sort -k1,1nr -k2,2
  exit 0
fi
echo "code_lines $(code_only $files | wc -l)"
echo "scala_files $(echo "$files" | grep -c .)"
echo "codegen_sites $(code_only $files | grep -c 'defineCodeGen\|nullSafeCodeGen' || true)"
echo "local_checkpoints $(code_only $files | grep -c 'localCheckpoint' || true)"
echo "default_params $(code_only $files | sed 's/"[^"]*"/""/g' |
  grep -oP '(?<![\w.])(?:(?:val|var|def)\s+)?[A-Za-z_]\w*:\s+[^=(){};:]+?(?<![<>!=])=(?![>=])' |
  grep -cvP '^(val|var|def)\s' || true)"
