#!/usr/bin/env bash
# List the `def` names under src/main/scala that no program file references.
#
# Usage: tools/orphan_scan.sh   (from any directory; it scans its own checkout)
#
# A name is an orphan when no line under src/main or perfbench/src mentions
# it, apart from the lines that define it. For each orphan the scan prints
# the files and lines that define it and how often src/test mentions it:
#
#   <name>  test_refs=<n>  <file>:<line>[,<file>:<line>...]
#
# It works on names, not symbols, so read the output with these limits:
#  - Overloads share one name: a name counts as used if any overload is.
#  - A val, parameter or method of another class with the same name counts
#    as a use, so an orphan can hide behind a common name.
#  - Comment lines (starting with //, /* or *) are skipped, but a trailing
#    comment after code is not.
#  - `override def`s (called by Spark or the JDK) and apply, unapply, main
#    and update (called through syntax or by the JVM) are never listed.
#  - A reflective call by string (Class.forName, a JSON key) is invisible.
# It is a record, not a gate: it always exits 0.
set -euo pipefail
cd "$(dirname "$0")/.."

code_lines() { # non-comment lines of the given trees' .scala/.java files
  find "$@" -type f \( -name '*.scala' -o -name '*.java' \) -print0 2>/dev/null |
    xargs -0 -r cat | grep -vE '^[[:space:]]*(//|/\*|\*)' || true
}

tmp=$(mktemp -d); trap 'rm -rf "$tmp"' EXIT
# name <TAB> file:line for every non-override def
find src/main/scala -type f -name '*.scala' -print0 | sort -z |
  xargs -0 grep -nE '(^|[^[:alnum:]_])def[[:space:]]+[A-Za-z_][A-Za-z0-9_]*' |
  grep -vE '^[^:]*:[0-9]+:[[:space:]]*(//|\*|/\*)' |
  grep -vE 'override[[:space:]]+(final[[:space:]]+)?(protected[^[:space:]]*[[:space:]]+)?def' |
  sed -E 's/^([^:]*):([0-9]+):.*[^[:alnum:]_]def[[:space:]]+([A-Za-z_][A-Za-z0-9_]*).*/\3\t\1:\2/' |
  grep -vE '^(apply|unapply|main|update)[[:space:]]' > "$tmp/defs"

count_tokens() { # "<count> <token>" per identifier token on stdin
  grep -oE '[A-Za-z_][A-Za-z0-9_]*' | sort | uniq -c
}

code_lines src/main perfbench/src > "$tmp/main_lines"
count_tokens < "$tmp/main_lines" > "$tmp/main"
code_lines src/test | count_tokens > "$tmp/test"
grep -oE '(^|[^[:alnum:]_])def[[:space:]]+[A-Za-z_][A-Za-z0-9_]*' "$tmp/main_lines" |
  sed -E 's/.*def[[:space:]]+//' | sort | uniq -c > "$tmp/deflines"

# refs = mentions in program code minus the def lines' own mentions
awk '
  FILENAME == ARGV[1] { m[$2] = $1; next }
  FILENAME == ARGV[2] { t[$2] = $1; next }
  FILENAME == ARGV[3] { d[$2] = $1; next }
  { split($0, f, "\t"); k = f[1]; if (k in w) w[k] = w[k] "," f[2]; else w[k] = f[2] }
  END {
    for (name in w)
      if (m[name] - d[name] <= 0)
        printf "%s  test_refs=%d  %s\n", name, t[name] + 0, w[name]
  }' "$tmp/main" "$tmp/test" "$tmp/deflines" "$tmp/defs" | sort
