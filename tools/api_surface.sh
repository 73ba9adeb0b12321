#!/usr/bin/env bash
# Size of io/VersionedTable.scala, counted one way every time:
#   lines          total lines of the file
#   code_lines     lines that are neither blank nor comment-only
#                  (a line whose first non-blank text is //, /* or *)
#   public_defs    class-level public defs: lines matching '^  def '
#                  inside the body of `final class VersionedTable`
#                  (companion object and case classes excluded)
# Each FROM-TO argument (1-based, inclusive line numbers) also prints
# code_lines for that range, and the sum of all ranges.
#
#   tools/api_surface.sh                      # whole-file counts
#   tools/api_surface.sh 745-909 2689-3095    # plus per-range code lines
set -euo pipefail
f="$(dirname "$0")/../src/main/scala/graft/io/VersionedTable.scala"

# code_lines FROM TO: non-blank, non-comment lines in [FROM, TO]
code_lines() {
  awk -v a="$1" -v b="$2" 'NR >= a && NR <= b {
      l = $0; sub(/^[ \t]+/, "", l)
      if (l != "" && l !~ /^(\/\/|\/\*|\*)/) n++
    } END { print n + 0 }' "$f"
}

echo "lines $(wc -l < "$f")"
echo "code_lines $(code_lines 1 999999999)"
echo "public_defs $(awk '/^final class VersionedTable/ { c = 1 }
  c && /^}/ { c = 0 }
  c && /^  def / { n++ } END { print n + 0 }' "$f")"

total=0
for r in "$@"; do
  n=$(code_lines "${r%-*}" "${r#*-}")
  echo "code_lines[$r] $n"
  total=$((total + n))
done
if [[ $# -gt 0 ]]; then echo "code_lines[ranges] $total"; fi
