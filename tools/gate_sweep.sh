#!/usr/bin/env bash
# Oracle sweep over both sides of every graft.DriverGate.
#
# Runs graft.Verify (with its name-filter argument) over every registered
# query that reaches a driver gate -- the GlobalIndex core and its
# FdrSweep.bhStepUp / Wasserstein.oneVsRest copies,
# DupClusters.connectedComponents, DawidSkene.fit, QualityClassifier.fit
# and BpeMerge.learnState -- once with the gates taken (the default) and
# once with spark.graft.gate.forceDistributed=true (the distributed plans
# a large input takes), at each scale factor, and checks every run against
# the DuckDB oracle with tools/check_oracle.py.
#
# Usage (from anywhere; sbt runs with the caller's SBT_OPTS):
#   tools/gate_sweep.sh <out_dir> <sf_dir> [<sf_dir> ...]
# e.g. the sf0.01 and sf0.001 test data directories. Prints one
# "<sf> <mode>: N pass / M fail" line per run; exits 1 if any run has a
# failure. SPARK_DRIVER_MEM sets the Verify heap (default 4g).
set -euo pipefail
if [ $# -lt 2 ]; then
  echo "usage: $0 <out_dir> <sf_dir> [<sf_dir> ...]" >&2
  exit 2
fi
out=$(mkdir -p "$1" && cd "$1" && pwd)
shift
sfs=()
for sf in "$@"; do sfs+=("$(cd "$sf" && pwd)"); done
cd "$(dirname "$0")/.."

# Every registered query that reaches a gate, as logged by the
# "graft.gate" logger over a full registry run at sf0.001 (46 queries).
# Verify matches names as substrings, so a name that prefixes another
# query runs that query too.
queries=(
  # GlobalIndex, FdrSweep, Wasserstein
  q_m52_km q_e_embargo_split q_m57_gains q_m78_wasserstein q_m53_logrank
  q_m49_bh_fdr q_m77_dunn q_p27_unimax q_s_semantic_adaptive
  q_a14_mad_outliers
  q_j3_positional q_m36_quantile_bins q_m43_quantile_map q_p17_token_shards
  q_p18_shuffle q_p32_curriculum q_p36_padding_waste q_p37_shuffle_quality
  q_pipeline_sft q_pipeline_tokenize q_pipeline_unigram q_t_calibration
  q_t_dsir q_t_pack q_t_pack_bestfit q_t_pack_bestfit_assign
  q_t_pack_bestfit_masks q_t_pack_contamination q_t_pack_curriculum
  q_t_pack_grouped q_t_ppl_buckets q_w1_avg_rank
  # DupClusters, DawidSkene, QualityClassifier, BpeMerge
  q_d_cc_incremental q_d_dup_clusters q_d_leak_split q_mm_image_clusters
  q_mm_phash_clusters q_pipeline_corpus q_s_cluster_labels
  q_s_semantic_clusters q_m62_dawid_skene q_t_quality_clf
  q_t_quality_clf_transfer q_t_bpe_encode q_t_bpe_merges q_t_fertility
)
filter=$(IFS=,; echo "${queries[*]}")

# one sbt start for the classpath, then plain JVMs per run
sbt --batch -Dsbt.log.noformat=true compile "export Runtime/fullClasspath" \
  | tail -n 1 > "$out/classpath.txt"
cp=$(cat "$out/classpath.txt")
opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
    java.nio java.util java.util.concurrent java.util.concurrent.atomic \
    sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
done

status=0
for sf in "${sfs[@]}"; do
  for mode in gated forced; do
    force=false; [ "$mode" = forced ] && force=true
    dir="$out/$(basename "$sf")-$mode"
    rm -rf "$dir"
    java "${opens[@]}" -Xmx"${SPARK_DRIVER_MEM:-4g}" \
      -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      -Dspark.graft.gate.forceDistributed=$force \
      -cp "$cp" graft.Verify "$sf" "$dir" "$filter" \
      > "$dir.verify.log" 2>&1
    python3 tools/check_oracle.py "$dir" "$sf" > "$dir.oracle.log" 2>&1 || true
    summary=$(grep -E "pass / [0-9]+ fail" "$dir.oracle.log" || echo "no summary")
    verify_failed=$(grep -c "^\[verify\] .* failed" "$dir.verify.log" || true)
    echo "$(basename "$sf") $mode: $summary (verify failures: $verify_failed)"
    if ! grep -qE " 0 fail" <<<"$summary" || [ "$verify_failed" != 0 ]; then
      status=1
    fi
  done
done
exit $status
