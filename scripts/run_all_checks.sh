#!/bin/bash
# One-shot validation: full test suite, oracle verification at both scale
# factors, and the headline bench. Exit nonzero on any failure.
set -euo pipefail
cd "$(dirname "$0")/.."
echo "== pytest =="
python -m pytest tests/ -q
python -m pytest perfbench/tests -q
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
echo "== bench sf0.1 =="
python bench.py
# Optional (slow, ~8 min/mode): value-hash invariance across planner paths.
#   python scripts/determinism_sweep.py                    # 32 vs 7 partitions
#   python scripts/determinism_sweep.py --mode=broadcast   # auto-broadcast off
#   python scripts/determinism_sweep.py --mode=aqe         # adaptive off
