#!/usr/bin/env bash
# Round-start preflight (~2 min): compile, run every registered query at
# sf0.001, and HASH-COMPARE each against its DuckDB oracle. Catches both
# throwing regressions (the round-12 events.ts encoding shift) and silent
# value-level shifts (e.g. a future micros-as-INT64 generation that decodes
# without error but 1000x wrong).
# Usage: tools/preflight.sh  [sf-dir] [names]
#   sf-dir  test-data directory; default the sf0.001 one (SF below)
#   names   comma list of query names (graft.Verify's third argument), to
#           check one family cheaply at a larger scale; default every query
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.001}"
NAMES="${2:-}"
OUT="$(mktemp -d /tmp/graft_preflight.XXXXXX)"
# NOTE: $OUT is intentionally PRESERVED on failure — the result parquets,
# oracle_sql.json, and errors.json are the diagnostics; only a clean pass
# removes it.
sbt -batch compile
. tools/java_opts.sh
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" SPARK_GRAFT_VERIFY_STRICT=1 \
  java $GRAFT_JAVA_OPTS -Xmx8g -cp "$GRAFT_CLASSPATH" \
  graft.Verify "$SF" "$OUT" "$NAMES" || {
    echo "PREFLIGHT FAILED — errors.json (artifacts kept at $OUT):" >&2
    cat "$OUT/errors.json" >&2
    exit 1
  }
# check_oracle exits 1 on any mismatch — capture output WITHOUT letting
# set -e abort the assignment, so the mismatch lines are actually shown
RES="$(python3 tools/check_oracle.py "$OUT" "$SF" ${NAMES:+"$NAMES"})" || true
{ echo "$RES" | grep -v "^OK " | head -20; } || true
echo "$RES" | tail -1 | grep -q " 0 failed" || {
  echo "PREFLIGHT FAILED — oracle mismatches above (artifacts kept at $OUT)" >&2
  exit 1
}
N=$(ls -d "$OUT"/*/ | wc -l)
echo "PREFLIGHT OK: $N queries ran clean and hash-match the oracle at $SF"
rm -rf "$OUT"
