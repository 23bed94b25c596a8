#!/usr/bin/env bash
# One-command replica of the driver's correctness gate:
#   tools/gate.sh [sfDir] [outDir]
# Empties outDir, runs graft.Verify (parquet dump + oracle_sql.json, log
# in outDir/verify.log), then the DuckDB comparator. Exits non-zero on
# any mismatch, on an oracle with no dump, or when Verify reports a
# failed query.
set -euo pipefail
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="${2:-/tmp/verify_out}"
cd "$(dirname "$0")/.."
case "$OUT_DIR" in
  ""|/) echo "gate.sh: refusing to empty '$OUT_DIR'" >&2; exit 2 ;;
esac
# a dump left by an earlier run would be compared and read PASS
rm -rf -- "$OUT_DIR"
mkdir -p "$OUT_DIR"
LOG="$OUT_DIR/verify.log"
sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR" >"$LOG" 2>&1 \
  || { tail -n 40 "$LOG" >&2; exit 1; }
status=0
python3 tools/compare_oracle.py "$OUT_DIR" "$SF_DIR" || status=$?
# Verify logs a query that throws and carries on
failed="$(grep -E '^\[verify\] .* failed' "$LOG" || true)"
if [ -n "$failed" ]; then
  echo "== VERIFY FAILED ($(printf '%s\n' "$failed" | wc -l)) =="
  printf '%s\n' "$failed" | sed 's/^/  /'
  status=1
fi
exit "$status"
