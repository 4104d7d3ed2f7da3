#!/bin/bash
# Multi-SF oracle gate (VERDICT r8 directive 3): for each sf dir given, run
# graft.Verify then tools/check_oracle.py; exit nonzero on the first red.
#
# The sf1 gate's first-ever run caught three real SF-dependent determinism
# bugs (q01 non-total sort key, x51 .xxxx5 rounding divergence, x67
# percentile-ulp clip bounds) that sf0.01/sf0.1 passed by luck — so this is
# a one-command rhythm, not a manual afterthought. Typical usage:
#
#   tools/gate.sh /root/testdata/sf0.01 /root/testdata/sf0.1 testdata_sf1
#
# Each SF gets its own dump dir under /tmp/gate_out so a later SF's Verify
# can't overwrite the dump a failure diagnosis needs. Verify runs one SF at
# a time (never two JVMs concurrently — bench contamination rule; also the
# 128 GiB heap budget assumes one driver).
#
# The forced leg always follows: the FIRST sf dir runs a second time with
# spark.graft.scale=large into /tmp/gate_out/<name>-large. Under `large`
# every ScalePolicy decision takes its at-scale side: the size tiers'
# at-scale plans and the distributed side of every probe route (driver
# blocks, single window, broadcast shingles, LSH hot buckets, kernel cells,
# bloom items, broadcast centroids, driver edges, x81's broadcast LM), so
# the branches the small SFs never reach keep an oracle check.
set -u
# Zero args (e.g. a typo'd CI variable expanding empty) must NOT read as a
# green gate — "GATE: GREEN (0 sf dirs)" would turn a misconfiguration into
# a pass (ADVICE r9).
[ $# -ge 1 ] || { echo "usage: tools/gate.sh SF_DIR..." >&2; exit 2; }
cd "$(dirname "$0")/.."
# GATE_HEAVY (big-SF local runs only; the driver never sets it): one comma
# list wiring BOTH halves of the heavy-dump contract — Verify dumps these
# names as multi-file parquet (parallel write, no coalesce(1) single-task
# re-run) and check_oracle compares them on the order-insensitive agg-hash
# route. Setting them separately risks a multi-file dump hitting the
# row-order-sensitive exact compare. Typical sf5/sf25 value:
#   GATE_HEAVY=q01_project_rename,x18_dedup_minhash,x29_scalar_kit,x34_dedup_embedding_lsh,x51_rank_distribution,x82_video_decode
if [ -n "${GATE_HEAVY:-}" ]; then
  export SPARK_GRAFT_VERIFY_MULTIFILE="$GATE_HEAVY"
  export DUCK_AGG_QUERIES="$GATE_HEAVY"
  echo "gate: heavy multi-file+agg-hash route for: $GATE_HEAVY"
fi
fail=0
# leg SF_DIR OUT_NAME: Verify into /tmp/gate_out/OUT_NAME, then the oracle
leg() {
  local sf=$1 out="/tmp/gate_out/$2"
  rm -rf "$out"; mkdir -p "$out"
  echo "=== gate: Verify $sf -> $out ${SPARK_GRAFT_CONF:+($SPARK_GRAFT_CONF)} ==="
  sbt -batch "runMain graft.Verify $sf $out" || { echo "GATE RED: Verify failed at $2"; fail=1; return; }
  echo "=== gate: oracle check $2 ==="
  python3 tools/check_oracle.py "$sf" "$out" || { echo "GATE RED: oracle mismatch at $2"; fail=1; }
}
for sf in "$@"; do
  leg "$sf" "$(basename "$sf")"
done
SPARK_GRAFT_CONF=spark.graft.scale=large leg "$1" "$(basename "$1")-large"
if [ "$fail" -ne 0 ]; then echo "GATE: RED"; exit 1; fi
echo "GATE: GREEN ($# sf dirs + forced leg)"
