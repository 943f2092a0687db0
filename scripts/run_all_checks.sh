#!/bin/bash
# One-shot validation: full test suite, oracle verification at both scale
# factors, and the headline bench. Exit nonzero on any failure.
set -euo pipefail
cd "$(dirname "$0")/.."
echo "== pytest =="
python -m pytest tests/ -q
python -m pytest perfbench/tests -q
echo "== Python workers, accumulators and streaming runners under a 100+ character TMPDIR =="
# No Unix socket path fits under this temp dir: session.unix_socket_dir
# falls back to /tmp.
long_root="$(mktemp -d)"
long_tmp="$long_root/$(printf 'd%.0s' {1..100})"
mkdir "$long_tmp"
TMPDIR="$long_tmp" python -m pytest tests/test_pyworker.py tests/test_mapreduce_generic.py \
    tests/test_streaming.py -q
rm -rf "$long_root"
echo "== oracle verify sf0.01 =="
python scripts/verify_driver.py
echo "== oracle verify sf0.1 =="
python scripts/verify_driver.py /root/testdata/sf0.1
echo "== cluster launcher smoke (local[4]) =="
scripts/submit_cluster.sh --sf-dir /root/testdata/sf0.001 --query wordcount 2>/dev/null | tail -1
echo "== scale probe 2x dedup family =="
python scripts/scale_probe.py 2 --family=dedup
echo "== scale probe 2x distrank family =="
python scripts/scale_probe.py 2 --family=distrank
echo "== determinism sweep, 32 vs 7 partitions, vector family =="
python scripts/determinism_sweep.py --mode=partitions --only=\
knn_bruteforce_cosine,ann_lsh_cosine,ann_ivf_cosine,embedding_centroids,\
semdedup_prune,embedding_quality_audit,ann_ivf_recall_probe,ann_ranking_quality,\
ann_pq_adc_topk,ann_ivf_pq_topk,embedding_int8_quant_recall,hard_negative_mining,\
ann_filtered_ivf,matryoshka_truncation_recall,ann_ivf_persisted,ann_lsh_persisted,\
ann_ivf_incremental_probe,dedup_embedding_cosine
echo "== determinism sweep, 32 vs 7 partitions, word k-gram family =="
python scripts/determinism_sweep.py --mode=partitions --only=\
cross_doc_span_dupes,decontaminate_against_eval,dedup_clusters,dedup_incremental_batch,\
dedup_keep_best,dedup_maximal_spans,dedup_minhash_containment,dedup_minhash_lsh,\
dedup_minhash_lsh_stopfiltered,dedup_ngram_jaccard,dedup_pipeline_exact_then_lsh,\
dedup_pipeline_exact_then_span,dedup_span_apply,dedup_span_attrition_by_source,\
dedup_span_cuts,doc_repetition_stats,eval_contamination_report,lsh_band_tuning_report,\
lsh_recall_probe,mixture_budget_correction,near_dup_cluster_sizes,pipeline_stage_attrition,\
setsim_prefix_filter_join,shingle_novelty_per_doc,winnowing_fingerprints
echo "== determinism sweep, auto-broadcast on vs off, shingle-pair family =="
python scripts/determinism_sweep.py --mode=broadcast --only=\
dedup_clusters,dedup_incremental_batch,dedup_keep_best,dedup_minhash_containment,\
dedup_minhash_lsh,dedup_minhash_lsh_stopfiltered,dedup_ngram_jaccard,\
dedup_pipeline_exact_then_lsh,lsh_band_tuning_report,lsh_recall_probe,\
near_dup_cluster_sizes,setsim_prefix_filter_join
echo "== determinism sweep, 32 vs 7 partitions, portable-hash family =="
python scripts/determinism_sweep.py --mode=partitions --only=\
ann_lsh_cosine,ann_lsh_persisted,ann_ranking_quality,bloom_join_prune_probe,\
bootstrap_ci_avg_price,cdc_chunk_dedup,cdc_chunk_stats,cdc_gear_chunk_stats,\
classifier_calibration_bins,classifier_train_scores,cms_heavy_hitters,\
cms_self_join_size_probe,cms_sketch_cells,dedup_maximal_spans,dedup_pipeline_exact_then_span,\
dedup_span_apply,dedup_span_attrition_by_source,dedup_span_cuts,feature_hashing_vectorize,\
gdpr_delete_impact,kmv_distinct_merge_probe,length_weighted_sample,mixture_budget_correction,\
negative_sampling_per_order,quality_classifier_score,shard_balance_audit,shuffle_shards,\
stratified_sample_by_lang,table_checksum_buckets,winnowing_fingerprints
echo "== determinism sweep, 32 vs 7 partitions, event-time family =="
python scripts/determinism_sweep.py --mode=partitions --only=\
events_tumbling_window,events_sliding_window,events_session_window,events_sessionize,\
session_path_patterns,purchase_click_attribution_outer
echo "== determinism sweep, 32 vs 7 partitions, multimodal family =="
python scripts/determinism_sweep.py --mode=partitions --only=\
multimodal_blob_meta,multimodal_feature_stub,multimodal_resize_stub,\
multimodal_audio_resample_stub,multimodal_frame_sample,mulaw_audio_energy_windows,\
multimodal_quarantine_audit
echo "== bench sf0.1 =="
python bench.py
# Optional (slow, ~8 min/mode): value-hash invariance across planner paths.
#   python scripts/determinism_sweep.py                    # 32 vs 7 partitions
#   python scripts/determinism_sweep.py --mode=broadcast   # auto-broadcast off
#   python scripts/determinism_sweep.py --mode=aqe         # adaptive off
