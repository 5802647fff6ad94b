#!/bin/sh
# Code lines in Scala sources: non-blank lines that are not wholly
# comment (// line comments, /* ... */ and /** ... */ blocks; a line
# holding code before a trailing comment counts as code). Prints one
# line per directory that holds .scala files (its own files only, not
# its subdirectories), then the total over everything listed.
#
#   tools/loc.sh                                  # src/main + src/test
#   tools/loc.sh src/main                         # main code only
#   tools/loc.sh src/main/scala/graft/streaming   # one directory
set -e
cd "$(dirname "$0")/.." || exit 1
[ $# -gt 0 ] || set -- src/main src/test
find "$@" -name '*.scala' -type f | sort | xargs -r awk '
  FNR == 1 { inblk = 0 }
  {
    line = $0; code = 0
    while (line != "") {
      if (inblk) {
        i = index(line, "*/")
        if (i == 0) break
        line = substr(line, i + 2); inblk = 0
      } else {
        sub(/^[ \t]+/, "", line)
        if (line == "" || substr(line, 1, 2) == "//") break
        if (substr(line, 1, 2) == "/*") { inblk = 1; line = substr(line, 3); continue }
        code = 1; break
      }
    }
    if (code) { d = FILENAME; sub(/\/[^\/]*$/, "", d); n[d]++; total++ }
  }
  END {
    for (d in n) printf "%7d  %s\n", n[d], d | "sort -k2"
    close("sort -k2")
    printf "%7d  total\n", total
  }'
