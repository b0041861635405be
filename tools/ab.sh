#!/usr/bin/env bash
# Interleaved A/B runs of the benchmark (perfbench/run.py) between two git
# refs. Usage:
#   tools/ab.sh <ref-a> <ref-b> [pairs] [workload] [seconds] [first-seed]
#   tools/ab.sh HEAD~1 HEAD 10 can_tumble_ffill_wide 6 1
# Each ref is a `git archive` copy in a new temporary directory (removed
# on exit; AB_KEEP=1 keeps it), built by its own run.py. Pair i runs both
# sides with seed first-seed + i - 1, one run at a time, and the side
# that runs first alternates from pair to pair. Host CPU steal is read
# from /proc/stat (column 8 of the `cpu` line) before and after each run.
# Each run's JSON result, with its side, seed and steal, is appended to
# $AB_OUT (default: the temporary directory's name + .jsonl). The summary
# gives per metric each side's median and IQR, and the pairs b won, over
# the pairs whose two runs are both correct with 0 failed; it names the
# pairs it dropped.
set -euo pipefail
cd "$(dirname "$0")/.."

[ $# -ge 2 ] || { sed -n '2,15p' "$0"; exit 2; }
REF_A=$1 REF_B=$2 PAIRS=${3:-10} WORKLOAD=${4:-can_tumble_ffill_wide} SECONDS_=${5:-6}
SEED0=${6:-1}

ROOT=$(mktemp -d "${TMPDIR:-/tmp}/graft-ab.XXXXXX")
[ "${AB_KEEP:-0}" = 1 ] || trap 'rm -rf "$ROOT"' EXIT
OUT=${AB_OUT:-$ROOT.jsonl}
for side in a b; do
  ref=$REF_A; [ $side = b ] && ref=$REF_B
  mkdir -p "$ROOT/$side"
  git archive "$ref" | tar -x -C "$ROOT/$side"
done

# total and steal jiffies of the `cpu` line
steal() { awk '/^cpu / {t = 0; for (i = 2; i <= NF; i++) t += $i; print t, $9}' /proc/stat; }

run() { # side ref pair
  local s0 s1 line
  s0=$(steal)
  line=$(cd "$ROOT/$1" && python3 perfbench/run.py --workload "$WORKLOAD" \
    --seed "$3" --seconds "$SECONDS_" --trace 0 2>/dev/null | tail -n 1) || true
  s1=$(steal)
  python3 - "$1" "$2" "$3" "$s0" "$s1" "$line" >>"$OUT" <<'EOF'
import json, sys
side, ref, pair, s0, s1, line = sys.argv[1:7]
(t0, st0), (t1, st1) = map(int, s0.split()), map(int, s1.split())
try:
    r = json.loads(line)
except ValueError:
    r = {"correct": False, "failed": None, "metrics": {}, "raw": line[-500:]}
r.update(side=side, ref=ref, pair=int(pair),
         steal_pct=round(100.0 * (st1 - st0) / max(1, t1 - t0), 2))
print(json.dumps(r))
EOF
  tail -n 1 "$OUT"
}

for i in $(seq 1 "$PAIRS"); do
  seed=$((SEED0 + i - 1))
  if [ $((i % 2)) = 1 ]; then run a "$REF_A" "$seed"; run b "$REF_B" "$seed"
  else run b "$REF_B" "$seed"; run a "$REF_A" "$seed"; fi
done

python3 - "$OUT" "$REF_A" "$REF_B" <<'EOF'
import json, statistics, sys
path, ref_a, ref_b = sys.argv[1:4]
rows = [json.loads(l) for l in open(path)]
side = {s: {r["pair"]: r for r in rows if r["side"] == s} for s in "ab"}
pairs = sorted(set(side["a"]) & set(side["b"]))
better = {"setup_s": -1, "job_s": -1, "records_per_s": 1, "out_bytes_per_record": -1}

def q(xs):
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0], 0.0
    qs = statistics.quantiles(xs, n=4)
    return statistics.median(xs), qs[2] - qs[0]

print(f"a = {ref_a}, b = {ref_b}, {len(pairs)} pairs, results in {path}")
for s in "ab":
    rs = list(side[s].values())
    bad = [r["pair"] for r in rs if not r.get("correct") or r.get("failed")]
    st = [r["steal_pct"] for r in rs]
    print(f"{s}: {len(rs) - len(bad)}/{len(rs)} runs correct with 0 failed"
          f"{' (not: pairs ' + str(bad) + ')' if bad else ''}; "
          f"steal % median {statistics.median(st):.2f}, max {max(st):.2f}")
# an incorrect or failing run's time is not a time of the workload: the
# medians and wins compare only pairs whose two runs are both good
good = lambda r: r.get("correct") is True and r.get("failed") == 0
dropped = [p for p in pairs if not (good(side["a"][p]) and good(side["b"][p]))]
if dropped:
    print(f"dropped pairs {dropped}: a run was not correct with 0 failed")
print(f"{'metric':24} {'a median':>12} {'a IQR':>10} {'b median':>12} {'b IQR':>10} "
      f"{'b/a':>7} {'b wins':>7}")
for m, sign in better.items():
    ok = [p for p in pairs if p not in dropped
          and m in side["a"][p]["metrics"] and m in side["b"][p]["metrics"]]
    if not ok:
        continue
    # run.py reports each metric as {"value": v, "unit": u}
    val = lambda s, p: side[s][p]["metrics"][m]["value"]
    a = [val("a", p) for p in ok]
    b = [val("b", p) for p in ok]
    (ma, ia), (mb, ib) = q(a), q(b)
    wins = sum(1 for x, y in zip(a, b) if (y - x) * sign > 0)
    print(f"{m:24} {ma:12.4g} {ia:10.3g} {mb:12.4g} {ib:10.3g} "
          f"{mb / ma if ma else float('nan'):7.3f} {wins:4}/{len(ok)}")
EOF
