#!/usr/bin/env bash
# One measurement script for the harness mains. A leg runs its sbt
# invocations one after another (concurrent sbt runs contend on the project
# lock) and leaves its outputs in <outdir>, each main's stderr in
# <outdir>/<name>.err:
#
#   bench             Bench over the full surface at sf0.1: per-query medians
#                     and counters -> bench.json
#   bench10x          Bench over the heavy set below on the 10x scale tree,
#                     then the same set on the 1x tree (the cost ratio, and
#                     the same-day canary for the host) -> bench10x.json,
#                     bench1x.json; run `synth` first
#   synth             synthesize the 1x and 10x scale trees; times nothing
#   scaling [copies]  ScaleCheck at `copies` (default 10) -> scaling<copies>.json
#   recall            RecallCurve at sf0.1 -> recall.json
#   churn             ChurnCheck at sf0.1 -> churn.json
#
# The mains' own settings pass through the environment: SPARK_GRAFT_CPUS
# (default: every core), SPARK_GRAFT_REPS, SPARK_GRAFT_PLANS (bench legs)
# and SPARK_GRAFT_ONLY (bench and scaling legs).
#
# Usage: scripts/measure.sh <leg> <outdir> [copies]
set -euo pipefail
usage() { echo "usage: $0 {bench|bench10x|synth|scaling|recall|churn} <outdir> [copies]" >&2; exit 2; }
[ $# -ge 2 ] || usage
LEG="$1"
OUT="$(mkdir -p "$2" && cd "$2" && pwd)"
COPIES="${3:-10}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"; cd "$REPO"
SCALE=/tmp/graft-scale # ScaleCheck's default work dir

# The heavy set timed at 10x. Keep it fixed so 10x/1x ratios stay
# comparable across runs.
HEAVY=(
  q_dedup_jaccard q_dedup_clusters q_dedup_corpus q_dedup_editdist
  q_dedup_incremental q_dedup_index_build q_dedup_substring
  q_dedup_substring_cut q_dedup_substring_profile q_text_decontam_spans
  q_text_decontam_trim q_text_bloom_decontam q_text_contamination
  q_text_classifier q_text_fingerprint q_curation_report q_sample_dsir
  q_sample_quality_budget q_graph_pagerank q_embed_mmr q_text_bpe_apply
  q_text_bpe_encode q_text_bpe_batched q_text_dup_ngrams q_text_lm_smoothed
  q_text_ppl_buckets q_text_bpe_stats q_text_lm_score q_text_ppl_capped
  q_text_bpe_decode q_curation_stored q_events_cdc_apply q_layout_bucketed
  q_shuffle_epoch q_shard_token_balanced q_multimodal_dedup q_text_pmi
  q_text_lm_kneser q_text_lm_kneser_served q_sample_curriculum_stored
  q_shard_stored q_events_cdc_snapshot q_graph_triangles q_text_bm25_stored
  q_dedup_index_append q_text_bm25_append q_text_decontam_stored
  q_dedup_index_maint q_text_bm25_maint q_text_decontam_maint
  q_embed_ann_maint q_dedup_cluster_stats q_pipeline_stored
  q_pipeline_maint q_pipeline_refresh q_text_classifier_refresh
  q_sample_dsir_refresh q_embed_ann_retrain
)
HEAVY_CSV="$(IFS=,; echo "${HEAVY[*]}")"

json_ok() { python3 -m json.tool "$1" >/dev/null || { echo "not JSON: $1" >&2; exit 1; }; }

# bench <name> [env...]: Bench writes every query's seconds and counters to
# <name>.json; stdout only ends with the compact headline line
bench() {
  local name="$1"; shift
  env "$@" SPARK_GRAFT_BENCH_OUT="$OUT/$name.json" \
    sbt -batch "runMain graft.Bench" >"$OUT/$name.out" 2>"$OUT/$name.err"
  json_ok "$OUT/$name.json"
}

# last_line <name> <main args...>: a main whose result is its last stdout line
last_line() {
  local name="$1"; shift
  sbt -batch "runMain $*" 2>"$OUT/$name.err" | tail -1 >"$OUT/$name.json"
  json_ok "$OUT/$name.json"
}

case "$LEG" in
  bench) bench bench ;;
  bench10x)
    bench bench10x SPARK_GRAFT_SF_DIR="$SCALE/x10" SPARK_GRAFT_ONLY="$HEAVY_CSV"
    bench bench1x SPARK_GRAFT_SF_DIR="$SCALE/x1" SPARK_GRAFT_ONLY="$HEAVY_CSV"
    ;;
  synth)
    SPARK_GRAFT_ONLY=__none__ sbt -batch "runMain graft.ScaleCheck" \
      >"$OUT/synth.out" 2>"$OUT/synth.err"
    ;;
  scaling) SPARK_GRAFT_SCALE_COPIES="$COPIES" last_line "scaling$COPIES" graft.ScaleCheck ;;
  recall) last_line recall graft.RecallCurve ;;
  churn) last_line churn graft.ChurnCheck ;;
  *) usage ;;
esac
