#!/bin/bash
# Fresh-JVM per-family bench medians -> bench_fresh.json
#
# Runs graft.Bench once per query family, each in its OWN JVM (the
# SPARK_GRAFT_BENCH_ONLY triage filter), and merges the per-family
# "queries" maps into one fresh-medians file. These are the numbers a
# query costs WITHOUT 150+ other queries' session pressure in the same
# JVM — the denominator for tools/bench_compare.py --triage, which
# flags any full-session median that exceeds 2x its fresh median
# (round 6's t01: 39.4s recorded in-session vs 3.9s fresh, same code).
#
# Usage: tools/bench_fresh.sh [out.json]
#   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
#   SPARK_GRAFT_CPUS   (passed through; graft.GraftSession.cores defaults it)
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
OUT="${1:-bench_fresh.json}"
TMP="$(mktemp -d)"
trap 'rm -rf "$TMP"' EXIT

# name-prefix groups; "m0,m1,m2" matches m01..m21 but NOT mm01 (no
# mm-name starts with "m0"/"m1"/"m2")
FAMILIES=(
  "d0,d1,d2" "s0,s1,s2" "t0,t1,t2" "p0,p1,p2,p3,p4"
  "q0,q1,q2,q3,q4" "q5,q6,q7,q8,q9" "m0,m1,m2" "mm" "w0" "ws" "ps" "v0"
)
for fam in "${FAMILIES[@]}"; do
  echo "== fresh JVM for family [$fam]" >&2
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_BENCH_ONLY="$fam" \
    sbt -batch "runMain graft.Bench" >/dev/null 2>&1
  cp bench_out.json "$TMP/$(echo "$fam" | tr ',' '_').json"
done

python3 - "$TMP" "$OUT" "$SF" <<'EOF'
import json, sys, glob, os
merged = {}
for p in sorted(glob.glob(os.path.join(sys.argv[1], "*.json"))):
    merged.update(json.load(open(p)).get("queries", {}))
json.dump({"metric": "fresh_family_medians", "unit": "sec",
           "sf": sys.argv[3], "queries": merged},
          open(sys.argv[2], "w"))
print(f"{len(merged)} fresh-JVM medians -> {sys.argv[2]}")
EOF
