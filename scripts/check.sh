#!/usr/bin/env bash
# Full local correctness gate: sbt tests, the benchmark build, and the
# DuckDB oracle diff of graft.Verify's outputs.
# Usage: scripts/check.sh [sfDir]  (default /root/testdata/sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT="$(mktemp -d /tmp/graft_check_XXXX)"

sbt -batch test
# the frozen benchmark builds against this library: an API change that
# breaks it must fail here, not in the benchmark run
(cd perfbench && sbt -batch Test/compile)
sbt -batch "runMain graft.Verify $SF_DIR $OUT"
python3 tools/check_oracle.py "$SF_DIR" "$OUT"
echo "ALL GREEN: tests + benchmark build + oracle diff @ $SF_DIR"
