#!/bin/bash
# Controlled A/B bench — the discipline that settled round-14's perf
# question, promoted into the repo (round-14 judge item #8): bench a
# SUBSET, pass-major, >=3 passes, in ONE host window, and report the
# per-query MEDIAN across passes. Full-run totals on this host swing up
# to 2.8x run-to-run; only a same-window subset median is evidence.
#
# Usage: scripts/ab_bench.sh <out.json> <q1,q2,...> [sfDir] [iters]
#   out.json  where the bench JSON line lands (graft.Bench's file sink)
#   q1,q2     comma-separated SparkEntry.queries names (no spaces)
#   sfDir     default /root/testdata/sf0.1
#   iters     default 3 (pass-major; median is the headline)
# SPARK_GRAFT_CPUS (env) defaults to $(nproc), the core count Bench and
# the test suite run with on the same host.
#
# For an A/B: run once on the A binary, recompile, run again on the B
# binary — SAME window, SAME subset, then compare per-query medians in
# the two JSON files. Example:
#   scripts/ab_bench.sh /tmp/ab_A.json q141_hits,q143_ppr
#   ...apply change; sbt -batch compile...
#   scripts/ab_bench.sh /tmp/ab_B.json q141_hits,q143_ppr
set -euo pipefail
[ $# -ge 2 ] || { echo "usage: ab_bench.sh <out.json> <q1,q2,...> [sfDir] [iters]" >&2; exit 2; }
DIR="$(cd "$(dirname "$0")/.." && pwd)"
OUT="$1"; ONLY="$2"; SF="${3:-/root/testdata/sf0.1}"; ITERS="${4:-3}"
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
SPARK_GRAFT_ONLY="$ONLY" SPARK_GRAFT_ITERS="$ITERS" \
SPARK_GRAFT_BENCH_OUT="$OUT" \
  "$DIR/scripts/jrun.sh" graft.Bench >/dev/null
python3 - "$OUT" <<'EOF'
import json, sys
r = json.load(open(sys.argv[1]))
qs = r["queries"]
print(f"subset total (median-sum): {sum(v for v in qs.values() if v):.1f}s"
      f"  iters={r['iters']}  pass_totals={r['pass_totals']}")
for k, v in sorted(qs.items()):
    print(f"  {k}: {v if v is not None else 'FAILED'}")
EOF
