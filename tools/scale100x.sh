#!/bin/bash
# Two-decade (100x, ~sf10) spot sweep over the families whose scaling
# behavior the 10x sweep left as a PREDICTION:
#   - SNM dedup: the auto window saturates at the 256 cap during the
#     first decade (10x), so DEPLOY.md predicts the SECOND decade
#     (10x -> 100x) is linear — wall ratio ~10x, down from the 14-21x
#     cap-transition decade. This script measures it.
#   - text analysis: fused per-row kernels, zero shuffle — predicted
#     linear at every decade (byteneutral corpus, so the ratio
#     measures ROWS, not the prefix mode's ~2.3x/decade byte inflation).
#   - graph / kNN substrate: banded SRP route with auto band width —
#     predicted ~linear in edges at fixed k.
# Each family is benched at 10x AND 100x IN THIS SCRIPT, one fresh JVM
# per entry per scale (text: one grouped JVM per scale, matching the
# 10x sweep's text condition) — both legs of every ratio share a
# condition, so the decade ratio is honest.
# Also: value-verify of the family entries at 100x against DuckDB
# oracles (ratio-guarded vs the 10x counts), and SnmRecall at 100x —
# recall one full decade PAST the cap engagement.
# Core count matches the 10x sweep (default 32). Driver-side tooling
# only — NOT part of the library.
set -uo pipefail
cd "$(dirname "$0")/.."

# The summary assembles SCALE100X.json from fixed /tmp globs; stale
# artifacts from an earlier or aborted sweep (possibly at different
# CPUS/ceiling) must not silently mix into this run's decade ratios.
# The 1x/10x SnmRecall files are NOT cleared — they come from the 10x
# sweep by design and this script never regenerates them.
rm -f /tmp/graft_s100_*.json /tmp/graft_snm_recall_100x.json /tmp/scale100x_verify.log

SRC=${1:-/root/testdata/sf0.1}
CPUS=${SPARK_GRAFT_CPUS:-32}
AMP10=${AMP10:-/tmp/graft_scale10x}
AMP10BN=${AMP10BN:-/tmp/graft_scale10x_bn}
AMP100=${AMP100:-/tmp/graft_scale100x}
AMP100BN=${AMP100BN:-/tmp/graft_scale100x_bn}
OUT100=/tmp/graft_verify100x
# 60M-row lineitem at 32-way parallelism needs the same headroom the
# 10x sweep runs with
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-64g}
# 100x entries get a wider per-entry ceiling than the 10x sweep's 600 s
# (dedup_snm at 255*500k candidates is expected ~10x its 10x wall)
CEIL=${SPARK_GRAFT_BENCH_CEILING:-1800}

SNM_ENTRIES="dedup_snm dedup_containment dedup_edit_distance dedup_snm_incremental dedup_snm_multipass"
TEXT_ENTRIES="text_scrub,text_tokens,text_langid,text_quality,text_fingerprint,text_repetition,text_entropy,text_feature_hash,text_readability,text_bpe_train,text_bpe_apply"
GRAPH_ENTRIES="graph_triangles graph_pagerank graph_link_pred graph_label_prop graph_kcore graph_assortativity knn_graph"

amp() { # amp <dest> <factor> [text mode]
  local dest=$1 factor=$2 mode=${3:-}
  if [ ! -d "$dest" ] || [ ! -d "$dest/lineitem.parquet" ]; then
    SPARK_GRAFT_SCALEUP_TEXT=${mode:-prefix} SPARK_GRAFT_CPUS=$CPUS \
      sbt -batch "runMain graft.ScaleUp $SRC $dest $factor" || exit 1
  else
    echo "[scale100x] reusing $dest"
  fi
}
amp "$AMP10"    10
amp "$AMP10BN"  10  byteneutral
amp "$AMP100"   100
amp "$AMP100BN" 100 byteneutral

bench1() { # bench1 <sfdir> <entry> <outjson>
  SPARK_GRAFT_SF_DIR="$1" SPARK_GRAFT_CPUS=$CPUS SPARK_GRAFT_BENCH_REPS=1 \
    SPARK_GRAFT_BENCH_CEILING=$CEIL SPARK_GRAFT_ONLY="$2" \
    SPARK_GRAFT_BENCH_OUT="$3" sbt -batch "runMain graft.Bench" || exit 1
}

# The summary is re-assembled after EVERY family so an interrupted
# sweep still leaves a committable SCALE100X.json with the families
# that DID finish (the SNM prediction check is the highest-value row,
# so SNM runs first).

# ---- SNM family: isolated, prefix AND byteneutral legs ------------------
for e in $SNM_ENTRIES; do
  bench1 "$AMP10"    "$e" "/tmp/graft_s100_snm_10x_$e.json"
  bench1 "$AMP100"   "$e" "/tmp/graft_s100_snm_100x_$e.json"
  bench1 "$AMP10BN"  "$e" "/tmp/graft_s100_snm_10xbn_$e.json"
  bench1 "$AMP100BN" "$e" "/tmp/graft_s100_snm_100xbn_$e.json"
done
python3 tools/scale100x_summary.py /tmp/scale100x_verify.log || true

# ---- SNM recall one decade past the cap ---------------------------------
# runs immediately after the SNM walls (not at the end of the sweep):
# the recall-past-the-cap number is the artifact's highest-value row,
# and a time-boxed partial run must not lose it to the later families
SPARK_GRAFT_CPUS=$CPUS sbt -batch \
  "runMain graft.SnmRecall $AMP100 /tmp/graft_snm_recall_100x.json" || exit 1
python3 tools/scale100x_summary.py /tmp/scale100x_verify.log || true

# ---- text family: one grouped JVM per scale, byteneutral ----------------
bench1 "$AMP10BN"  "$TEXT_ENTRIES" /tmp/graft_s100_text_10xbn.json
bench1 "$AMP100BN" "$TEXT_ENTRIES" /tmp/graft_s100_text_100xbn.json
python3 tools/scale100x_summary.py /tmp/scale100x_verify.log || true

# ---- graph family: isolated per entry (embeddings-driven; text
#      amplification mode is irrelevant, use the prefix corpus) ----------
for e in $GRAPH_ENTRIES; do
  bench1 "$AMP10"  "$e" "/tmp/graft_s100_graph_10x_$e.json"
  bench1 "$AMP100" "$e" "/tmp/graft_s100_graph_100x_$e.json"
done
python3 tools/scale100x_summary.py /tmp/scale100x_verify.log || true

# ---- value-verify the family entries at 100x ----------------------------
# ratio guard keys on the 10x sweep's counts (factor 10 between scales);
# if the 10x counts are missing, fall back to rows-only context.
ONLY_CSV="$(echo $SNM_ENTRIES $GRAPH_ENTRIES | tr ' ' ','),$TEXT_ENTRIES"
SPARK_GRAFT_ONLY="$ONLY_CSV" SPARK_GRAFT_CPUS=$CPUS \
  sbt -batch "runMain graft.Verify $AMP100 $OUT100" || exit 1
BASE10=/tmp/graft_verify10x/counts.json
if [ -f "$BASE10" ]; then
  python3 tools/local_verify.py "$AMP100" "$OUT100" --baseline "$BASE10" \
    --factor 10 | tee /tmp/scale100x_verify.log
else
  python3 tools/local_verify.py "$AMP100" "$OUT100" | tee /tmp/scale100x_verify.log
fi

python3 tools/scale100x_summary.py /tmp/scale100x_verify.log
