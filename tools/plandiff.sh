#!/usr/bin/env bash
# Plan diff against a git ref: dumps the formatted physical plan of every
# query registered in the working tree (graft.PlanDump) on a `git archive`
# copy of <ref> and on the working tree, masks what changes from run to
# run, and diffs the two dump directories. Exits 0 when every plan is
# textually identical, 1 on any difference (or when <ref> lacks a query).
# A plan that also differs between two runs of the working tree is listed
# as unstable and does not fail the diff.
# Usage: tools/plandiff.sh <ref> [sf-dir]   (default: testdata/sf0.01 beside
#        the checkout, the layout TESTDATA.md lists)
# Env: SPARK_GRAFT_CPUS (default 4), SPARK_DRIVER_MEM (default 4g),
#      PLANDIFF_KEEP=1 keeps the temporary directory.
set -euo pipefail
cd "$(dirname "$0")/.."

[ $# -ge 1 ] || { sed -n '2,12p' "$0"; exit 2; }
REF=$1 SF=${2:-$(cd .. && pwd)/testdata/sf0.01}

ROOT=$(mktemp -d "${TMPDIR:-/tmp}/graft-plandiff.XXXXXX")
[ "${PLANDIFF_KEEP:-0}" = 1 ] || trap 'rm -rf "$ROOT"' EXIT
mkdir "$ROOT/src"
git archive "$REF" | tar -x -C "$ROOT/src"

dump() { # checkout out-dir query-list
  (cd "$1" && sbt -batch compile >&2 && . tools/java_opts.sh &&
    SPARK_GRAFT_SF_DIR="$SF" java $GRAFT_JAVA_OPTS -Xmx"${SPARK_DRIVER_MEM:-4g}" \
      -cp "$GRAFT_CLASSPATH" graft.PlanDump "$2" plan "$3" >&2)
  mask "$2"/*.txt
}

# what differs between two runs of the same plan: expression, lambda
# variable, RDD, plan, codegen and query-stage ids; object hashes; source
# line numbers of RDD call sites; digits in temporary file names, in
# file: URIs and in the gates' scratch directories (a streaming sink's
# MetadataLogFileIndex [/tmp/graft_qsd<digits>/out] carries no scheme)
mask() {
  perl -0pi -e '
    s/#[0-9]+/#/g; s/(lambda [a-z]+)_[0-9]+/${1}_N/g; s/RDD\[[0-9]+\]/RDD[]/g;
    s/plan_id=[0-9]+/plan_id=N/g; s/codegen id : [0-9]+/codegen id : N/g;
    s/(QueryStage\n(?:[^\n]+\n)*?Arguments: )[0-9]+/${1}N/g;
    s/Lambda\$[0-9]+\/0x[0-9a-f]+/Lambda/g; s/\@[0-9a-f]{4,8}\b/\@N/g;
    s/\.scala:[0-9]+/.scala:N/g;
    s{(file:/[^ ,\]]*)}{($x = $1) =~ s/[0-9]{6,}/N/g; $x}ge;
    s{(/graft_[a-z]+)[0-9]+}{${1}N}g' "$@"
}

# an empty list dumps every registered query; the ref gets the same names,
# since a ref older than the shared selector reads an empty list as none
dump . "$ROOT/work" ""
NAMES=$(ls "$ROOT/work" | sed 's/_plan\.txt$//' | paste -sd, -)
dump "$ROOT/src" "$ROOT/ref" "$NAMES"

diff -rq "$ROOT/ref" "$ROOT/work" >/dev/null && {
  echo "PLANDIFF OK: $(ls "$ROOT/work" | wc -l) plans identical to $REF"
  exit 0
}
# a plan that also differs between two runs of the working tree (an
# adaptive plan a query materializes while it is built) is listed as
# unstable, not failed
CHANGED=$({ diff -rq "$ROOT/ref" "$ROOT/work" || true; } |
  sed -E 's#.*/([^/]+)_plan\.txt differ$#\1#' | paste -sd, -)
dump . "$ROOT/again" "$CHANGED"
REAL=""
for q in ${CHANGED//,/ }; do
  if cmp -s "$ROOT/work/${q}_plan.txt" "$ROOT/again/${q}_plan.txt"; then
    diff "$ROOT/ref/${q}_plan.txt" "$ROOT/work/${q}_plan.txt" || true
    REAL="$REAL $q"
  else
    echo "PLANDIFF UNSTABLE: $q differs between two runs of the working tree"
  fi
done
[ -z "$REAL" ] || {
  echo "PLANDIFF FAILED: plans differ from $REF (< $REF, > working tree):$REAL" >&2
  exit 1
}
echo "PLANDIFF OK: $(ls "$ROOT/work" | wc -l) plans, none differs from $REF except the unstable ones above"
