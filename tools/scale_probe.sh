#!/bin/bash
# Second-decade spot probe: run the PARAMETER-CAPPED pipelines (the SNM
# window cap 256, bucketPairs maxBucket, autoBandBits clamp [2,8], LSH
# band caps) at an arbitrary amplification factor with the full gate —
# ScaleUp -> Verify (subset) -> DuckDB oracles + row-count-ratio guard
# -> per-query bench. The 10x sweep (tools/scale10x.sh) proves one
# decade; this answers "which cap binds first in the NEXT decade, and
# does it degrade recall silently?" for just the families whose escape
# hatches have regimes.
#   tools/scale_probe.sh <factor> [entries-csv] [srcDir]
# Driver-side tooling only — NOT part of the library.
set -uo pipefail
cd "$(dirname "$0")/.."

FACTOR=${1:?factor required (e.g. 30)}
ENTRIES=${2:-dedup_snm,dedup_snm_incremental,dedup_snm_multipass,dedup_containment,dedup_edit_distance,dedup_minhash_lsh,dedup_ppjoin,dedup_embedding,dedup_semantic,mm_phash_neardup,knn_graph,ann_lsh}
SRC=${3:-/root/testdata/sf0.1}
AMP=/tmp/graft_scale${FACTOR}x
OUT=/tmp/graft_verify${FACTOR}x
BASE=${SCALE_PROBE_BASELINE_DIR:-/tmp/graft_verify01}
CPUS=${SPARK_GRAFT_CPUS:-32}
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-64g}

if [ ! -f "$BASE/counts.json" ]; then
  echo "[scale_probe] no 1x counts at $BASE — run the 1x gate first" >&2
  exit 1
fi

SPARK_GRAFT_CPUS=$CPUS sbt -batch "runMain graft.ScaleUp $SRC $AMP $FACTOR" || exit 1
SPARK_GRAFT_ONLY="$ENTRIES" SPARK_GRAFT_CPUS=$CPUS \
  sbt -batch "runMain graft.Verify $AMP $OUT" || exit 1
python3 tools/local_verify.py "$AMP" "$OUT" --baseline "$BASE/counts.json" \
  --factor "$FACTOR" | tee /tmp/scale${FACTOR}x_verify.log
SPARK_GRAFT_SF_DIR="$AMP" SPARK_GRAFT_CPUS=$CPUS SPARK_GRAFT_BENCH_REPS=1 \
  SPARK_GRAFT_ONLY="$ENTRIES" \
  SPARK_GRAFT_BENCH_OUT=SCALE${FACTOR}X_BENCH.json sbt -batch "runMain graft.Bench"
