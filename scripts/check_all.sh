#!/usr/bin/env bash
# Tri-SF oracle sweep — run the graft.Verify dump + DuckDB compare
# (scripts/check.py) at ALL THREE scale factors before a round gate,
# so an SF-dependent literal (a threshold tuned to sf0.01 row counts,
# a limit that only bites at sf0.1) can't slip into a query unnoticed.
#
# Also runs the benchmark's own tests: perfbench compiles against the
# root sources, so a renamed store API breaks there first.
#
# Usage: scripts/check_all.sh   (~2 + 4 + 8 min for the three SFs)
set -euo pipefail
cd "$(dirname "$0")/.."
echo "== benchmark tests (perfbench, built against the root sources) =="
(cd perfbench && sbt -batch test)
echo "== plan invariants (graft.ExplainAudit, exits nonzero on VIOLATED) =="
sbt -batch "runMain graft.ExplainAudit"
for sf in 0.001 0.01 0.1; do
  out="/tmp/verify_sweep_sf$sf"
  rm -rf "$out"
  echo "== sf$sf: dumping =="
  sbt -batch "runMain graft.Verify /root/testdata/sf$sf $out"
  echo "== sf$sf: comparing =="
  python3 scripts/check.py "/root/testdata/sf$sf" "$out"
done
echo "== tri-SF sweep green =="
