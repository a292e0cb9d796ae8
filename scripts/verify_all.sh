#!/usr/bin/env bash
# Reproducible correctness artifact for a round (r16, VERDICT next-round
# #8): run graft.Verify at the given SF, replay every oracle in DuckDB
# via scripts/compare_oracle.py (the dtype-strict local replica of the
# driver gate), and print wall-times for both phases. Exit 0 iff every
# row is green.
#
#   scripts/verify_all.sh [sfDir] [outDir]
#
# Defaults: sf0.01 (the driver's gate SF) into /tmp/verify_all/q.
#
# SPARK_GRAFT_VERIFY_ONLY=<name>[,<name>...] runs only the named
# queries (graft.Verify skips the rest), and compare_oracle.py compares
# only the query directories that were written, so one oracle family
# gates in minutes, e.g. every multimodal line:
#
#   SPARK_GRAFT_VERIFY_ONLY=$(grep -rhoE '"mm_[a-z0-9_]+"' \
#     src/main/scala/graft | tr -d '"' | sort -u | paste -sd,) \
#     scripts/verify_all.sh
set -u
SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/verify_all/q}"
cd "$(dirname "$0")/.."

rm -rf "$OUT"
t0=$(date +%s)
sbt -batch "runMain graft.Verify $SF $OUT" >"$OUT.verify.log" 2>&1
rc=$?
t1=$(date +%s)
echo "verify: $((t1 - t0)) s (exit $rc, log $OUT.verify.log)"
[ $rc -ne 0 ] && exit $rc

python3 scripts/compare_oracle.py "$SF" "$OUT" | tee "$OUT.compare.log"
rc=${PIPESTATUS[0]}
t2=$(date +%s)
echo "compare: $((t2 - t1)) s  total: $((t2 - t0)) s (exit $rc)"
exit $rc
