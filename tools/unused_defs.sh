#!/bin/bash
# Unused-def scan: prints every def declared at the start of a line under
# src/main (overrides skipped) whose name occurs exactly once, its own
# declaration, across src/ and perfbench/scala. Occurrences are whole
# identifier tokens counted with `grep -a`, so a spec that grep would flag
# as binary (TextExprSpec.scala holds raw control bytes) still counts.
# Crude by design: a name shared by two defs hides both, and a def reached
# only by reflection is listed. Check each hit before acting on it.
#
# Usage: tools/unused_defs.sh   (from the repo root; prints path:line: name)
set -euo pipefail
cd "$(dirname "$0")/.."
ident='[A-Za-z_][A-Za-z0-9_]*'
grep -rahoE --include='*.scala' "$ident" src perfbench/scala \
  | sort | uniq -c | awk '$1 == 1 { print $2 }' > "${TMPDIR:-/tmp}/unused_defs.$$"
trap 'rm -f "${TMPDIR:-/tmp}/unused_defs.$$"' EXIT
grep -rnaE --include='*.scala' \
    "^\s*((private|protected)(\[$ident\])?\s+|final\s+|implicit\s+)*def\s+$ident" src/main \
  | sed -E "s/^([^:]+:[0-9]+):.*def\s+($ident).*/\1: \2/" \
  | awk -F': ' 'NR == FNR { once[$0] = 1; next } ($2 in once)' \
      "${TMPDIR:-/tmp}/unused_defs.$$" - \
  | sort
