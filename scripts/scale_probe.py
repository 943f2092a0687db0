"""Scale-up probe: replicate sf0.1 fixtures K× (keys shifted so
cardinalities grow linearly) into /tmp, then time headline queries at 1×
and K× to check the plans scale near-linearly — the local stand-in for
"would this survive 100×".

Usage:
    python scripts/scale_probe.py [K]              # default 8, mixed set
    python scripts/scale_probe.py 64 --family=dedup

--family=dedup replicates only documents+embeddings (fast fixture build),
times the dedup/ANN scale path (exact digest dedup, banded MinHash-LSH,
IVF search), and records the LSH band-bucket size distribution (p50/p90/
p99/max + implied candidate-pair mass) at both scales — the empirical
backing for SCALE.md's "banding bounds hot buckets; AQE splits the rest"
claim. Deliberately excluded at K≥64: semdedup_prune (within-cell
quadratic — its K_CELLS knob must grow with N, which is the documented
design, not a surprise) and dedup_embedding_cosine (exact all-pairs is
O(N²) by definition; the probe's LSH/IVF queries ARE its scale path).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from map_reduce_go_spark import get_spark  # noqa: E402
from map_reduce_go_spark.registry import all_queries  # noqa: E402
from map_reduce_go_spark.sources.readers import TABLES, load_table  # noqa: E402

BASE = "/root/testdata/sf0.1"
# Key columns shifted per replica so joins/groups grow linearly instead of
# multiplying duplicate keys.
SHIFT_COLS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
QUERIES = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "wordcount",
    "dedup_minhash_lsh",
    "funnel_view_click_purchase",
    "bigram_lm_doc_score",
]
DEDUP_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_ivf_cosine",
]
DEDUP_TABLES = ("documents", "embeddings")
# Round-5 family: the new heavy plans — FastSS edit-distance join (fanout
# join + banded verify), CMS build, and the two event-table maintenance
# shapes. Customer names get a 4-hex replica salt (distinct suffixes keep
# cross-replica name distances >= 2 almost surely, so true-pair density
# stays ~linear — a bare numeric suffix would make every cross-replica
# pair distance 1 and measure a fixture artifact, the replicate() lesson
# again). user_id shifts too, so event keys grow linearly instead of
# growing k-times-deeper per-user histories.
R5_QUERIES = [
    "editdist_deletion_join",
    "cms_heavy_hitters",
    "upsert_latest_snapshot",
    "scd2_user_type_history",
]
R5_TABLES = ("customer", "documents", "events")
R5_EXTRA_SHIFTS = {"customer": ["c_custkey"], "events": ["event_id", "user_id"]}
# setsim family (VERDICT r5 #3): the prefix-filter similarity join, with
# the prefix-token bucket distribution measured the way the LSH probe
# measures band buckets — the empirical backing for "prefix buckets are
# RARE-token buckets, small by construction".
SETSIM_QUERIES = ["setsim_prefix_filter_join"]
SETSIM_TABLES = ("documents",)
# Round-6 family: the new heavy plans — iterative BPE (3 vocabulary
# rewrites), the shingle-novelty join, within-order basket pairs, and
# the backlog sweep-line. Documents use the vocabulary-growing word
# salt (novelty and BPE are token-blocked operators — the setsim
# lesson); orders/lineitem keys shift so baskets grow in COUNT, not in
# per-order depth.
R6_QUERIES = [
    "bpe_merge_steps",
    "shingle_novelty_per_doc",
    "basket_part_pairs_topk",
    "order_backlog_daily",
]
R6_TABLES = ("documents", "orders", "lineitem")
# Late-round-6 family: the governance/temporal/embedding additions.
# user_id and o_custkey shift so the probe grows the number of USERS
# and CUSTOMERS linearly (rolling-distinct state, TWAP groups, island
# counts), not per-key history depth — per-key depth at k× measures a
# different (and unrealistic) workload. Embeddings grow in corpus rows
# while both probe sides stay fixed at 20 queries, so the int8/negative
# mining probes measure scan growth, the designed scale axis.
R6B_QUERIES = [
    "rolling_7d_distinct_users",
    "time_weighted_avg_value_per_user",
    "order_gap_islands",
    "embedding_int8_quant_recall",
    "hard_negative_mining",
]
R6B_TABLES = ("events", "orders", "embeddings")
R6B_EXTRA_SHIFTS = {
    "events": ["event_id", "user_id"],
    "orders": ["o_orderkey", "o_custkey"],
}
# Round-7 family (VERDICT r7 #1): the four scale-sensitive r7 plans.
# equidepth exercises the two full-width shuffles of the distributed
# rank; bm25 the tokenize+agg (scramble replication: the query terms
# stay corpus-hot, df and tf-row mass both grow k-fold — the realistic
# model for lexical retrieval, unlike word_salt which would remove the
# query terms from every replica); chunking the pure map-side explode;
# filtered ANN the corpus-growing scan with a fixed 20-query probe side.
R7_QUERIES = [
    "equidepth_histogram_price_approx",
    "bm25_doc_ranking",
    "doc_chunking_fixed_tokens",
    "ann_filtered_ivf",
]
R7_TABLES = ("orders", "documents", "embeddings")
# Round-7b family: the user-behavior plans (+ the two r6 plans VERDICT
# r7 #1 names as never-probed). FK-consistent replication (fk_bases):
# o_custkey shifts by CUSTOMER's stride and l_orderkey by ORDERS',
# so each replica's customer->orders->lineitem cascade stays intact —
# gdpr_delete_impact measures real frontier growth, not orphan noise.
R7B_QUERIES = [
    "churn_weekly_rates",
    "weekly_activity_bitmap",
    "session_path_patterns",
    "gdpr_delete_impact",
]
R7B_TABLES = ("events", "customer", "orders", "lineitem")
R7B_EXTRA_SHIFTS = {
    "events": ["event_id", "user_id"],
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
}
R7B_FK_BASES = {"o_custkey": "customer", "l_orderkey": "orders"}
# Round-8 family: the new fact-heavy plans. Same FK-consistent model.
# l_partkey deliberately does NOT shift: at real scale-up the part
# catalog is fixed and per-part depth grows — the spectrum shifts right
# by ~log2(k) buckets, which is the workload the skew audit exists for.
R8_QUERIES = [
    "pagerank_nation_trade",
    "mad_outliers_by_segment",
    "survival_order_fulfillment",
    "partkey_skew_spectrum",
]
R8_TABLES = ("customer", "orders", "lineitem", "supplier", "nation")
R8_EXTRA_SHIFTS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
}
R8_FK_BASES = {"o_custkey": "customer", "l_orderkey": "orders"}
# Round-8b family: the retrieval/chunking trio. Scramble replication
# (BM25's query terms must stay corpus-hot, same argument as round7);
# cdc is the suite's only byte-linear plan (per-byte boundary tests),
# matryoshka is the knn shape (corpus grows, probe side fixed).
R8B_QUERIES = [
    "cdc_chunk_stats",
    "rrf_fusion_topk",
    "matryoshka_truncation_recall",
]
R8B_TABLES = ("documents", "embeddings")
# round8c family (late r8): the five newest plans. Documents use the
# word_salt growth model — SNM sort keys and winnowing fingerprints must
# grow in DISTINCT content (identical replicas would pile exact
# duplicates into every neighborhood/posting list and measure a fixture
# artifact, not the plan). lineitem keeps l_partkey UNSHIFTED on purpose:
# replication deepens each part's receipt/issue history k-fold, which is
# exactly the FIFO overlap-join's scale axis (allocations must stay
# linear in rows because cumulative intervals are consecutive);
# l_orderkey moves with orders' stride so order-level joins stay
# FK-consistent. Bootstrap's axis is row count alone (the resample state
# is 64 agg columns regardless).
R8C_QUERIES = [
    "feature_hashing_vectorize",
    "winnowing_fingerprints",
    "dedup_sorted_neighborhood",
    "fifo_inventory_allocation",
    "bootstrap_ci_avg_price",
]
R8C_TABLES = ("documents", "orders", "lineitem")
R8C_FK_BASES = {"l_orderkey": "orders"}
# mleval family (late r8): the model-evaluation plans. Plain replication
# is the right growth model for all four: the scale axis is FACT rows
# feeding a bounded rollup — AUC's rank frame is the distinct-VALUE set
# (constant under replication, as for a real score column with bounded
# precision), PSI/stump ride the distinct-n_chars / bucket rollups, and
# CUSUM rides the calendar-day rollup; Spearman's rank frames are the
# distinct quantity/price-cent sets. Expected ratios well under k:
# the k-fold cost is the scan + map-side combine, the shuffled state is
# fixed-size (Spearman's price-rank join deepens per-value counts, not
# the rank frame — the bounded-precision-score model).
MLEVAL_QUERIES = [
    "auc_value_by_event_type",
    "psi_doclen_drift",
    "decision_stump_doclen",
    "cusum_daily_changepoint",
    "spearman_quantity_price",
]
MLEVAL_TABLES = ("events", "documents", "lineitem")
# Round-10 family: the gear-CDC path head-to-head with the md5 form
# (same boundary-statistics contract; the probe records the
# constant-factor win of table-lookup shift-adds over per-position md5
# at identical corpus bytes), plus the persisted partition-pruned IVF
# index (build+probe at 1×, marker-gated reuse means the k× number is a
# fresh build over the k× corpus — the honest cost; per-query probes
# against an existing index are the test suite's job). word_salt grows
# distinct content so CDC boundary positions aren't k identical copies.
R10_QUERIES = [
    "cdc_gear_chunk_stats",
    "cdc_chunk_stats",
    "cdc_chunk_dedup",
    "ann_ivf_persisted",
]
R10_TABLES = ("documents", "embeddings")
# Round-10b family: the classifier pair (one corpus pass + bounded
# rollup — should ride the scan near-flat), the ranking-quality probe
# (two broadcast-probe searches over the k× corpus + metadata-sized
# metric joins), and the persisted LSH index (fresh tmp fixture → the
# k× number is a fresh bucket-partitioned BUILD plus the pruned probe,
# same honesty rule as ann_ivf_persisted). word_salt grows distinct
# vocabulary so the classifier's hash-slot distribution isn't k copies.
# Round-11 family: the quarantine decode path — real per-blob PNG work in
# mapInPandas (Python-side by necessity, Arrow-batched by design), where
# the scale axis is blobs decoded per second. word_salt grows distinct
# text so planted-PNG pixel payloads differ per replica.
R11_QUERIES = [
    "multimodal_quarantine_audit",
]
R11_TABLES = ("documents",)
R10B_QUERIES = [
    "quality_classifier_score",
    "classifier_calibration_bins",
    "ann_ranking_quality",
    "ann_lsh_persisted",
]
R10B_TABLES = ("documents", "embeddings")
# Round-13 family (VERDICT r12 #3): the distributed-rank adopters. The
# scale axis is CUSTOMERS RANKED, so o_custkey shifts per replica (the
# default shifts only o_orderkey, which would grow orders-per-customer
# instead of the rank frame). The probe also sweeps the derived fan-out
# knob (spark.graft.rank.parts) on the RFM plan at K× and asserts the
# canonical result hash is INVARIANT while the timings move — the proof
# the knob tunes throughput, never answers.
DISTRANK_QUERIES = [
    "orders_rfm_segmentation",
    "revenue_lorenz_gini",
    "customer_spend_deciles",
]
DISTRANK_TABLES = ("orders",)
DISTRANK_EXTRA_SHIFTS = {"orders": ["o_custkey"]}
# Round-14 family (VERDICT r13 #6): the KV capstone's STREAMING half.
# The scale axis is KEY CARDINALITY in the state store, so the probe's
# op-log keys by FULL o_custkey (the registered kv_apply_log's % 97
# keyspace is deliberately bounded and would not grow under
# replication), and o_custkey shifts per replica. The probe drains the
# op-log through the stateful twin in 3 seq-ordered waves, asserts the
# drained snapshots hash-equal the batch kv_fold of the same log
# (snapshot == batch-fold, in-probe), and records the state store's own
# numRowsTotal / memoryUsedBytes progress metrics at 1x and Kx.
KVSTREAM_TABLES = ("orders",)
KVSTREAM_EXTRA_SHIFTS = {"orders": ["o_custkey"]}
# Round-14 query family: maximal-span dedup (the winnowing-candidate
# position join + diagonal-island window — match volume is the scale
# axis, bounded by candidate degree under the stop-filter) and the
# shard-controller fold (bounded control-plane fold; its data side is
# the orders key-space distinct, which grows with o_custkey shifts).
R14_QUERIES = [
    "dedup_maximal_spans",
    "shardctrler_apply_log",
]
R14_TABLES = ("documents", "orders", "nation")  # nation copies fixed
# (no shift entry): the shardctrler op-log is control-plane metadata
# and must NOT grow with data — the scale axis for that query is the
# orders key-space distinct.
R14_EXTRA_SHIFTS = {"orders": ["o_custkey"]}

# Whole-suite family (VERDICT r14 #6): ONE comparable suite-level curve —
# every bench.py headliner against one 8x full-model fixture, converting
# the per-family scale claims above into a single table (SCALE.md). The
# model follows the repo's replication philosophy: facts + customer grow
# (FK-consistent strides), the true dims (region/nation/supplier/part)
# stay fixed like real scale-up, and documents grow vocabulary-fresh
# (word_salt) so token-blocked plans measure corpus growth, not a
# saturated-shingle fixture artifact. Exclusions are the two documented
# by-definition-quadratic headliners — logged in the probe output, never
# silent (the no-silent-caps rule).
SUITE_EXCLUDE = {
    "semdedup_prune": "within-cell quadratic by design; K_CELLS grows with N (see probe header)",
    "dedup_embedding_cosine": "exact all-pairs O(N^2) by definition; LSH/IVF are its scale path",
}


def suite_queries() -> list[str]:
    from bench import HEADLINE

    return [q for q in HEADLINE if q not in SUITE_EXCLUDE]


SUITE_EXTRA_SHIFTS = {
    "customer": ["c_custkey"],
    "orders": ["o_custkey"],
    "events": ["user_id"],
}
SUITE_FK_BASES = {"o_custkey": "customer", "l_orderkey": "orders"}


def replicate(
    spark,
    k: int,
    out_dir: str,
    tables=TABLES,
    extra_shifts=None,
    word_salt=False,
    fk_bases=None,
    inject_hot=False,
) -> None:
    """Build the k-times corpus in ONE pass per table: each row explodes
    into k replicas (a lateral sequence, map-side), keys shift by
    replica*10*n so join/group cardinalities grow linearly, and document
    text is scrambled per (replica, doc) so the corpus grows in DISTINCT
    documents. (A k-branch union of full scans re-read and re-planned the
    source k times — at k=64 the fixture build alone dominated the probe's
    wall-clock budget.)

    The scramble salt includes doc_id: a replica-only salt would sort
    EVERY doc's words into the same canonical hash order, making any two
    docs with overlapping vocabulary collide heavily in shingle space —
    LSH candidate mass then grows quadratically and the probe measures a
    fixture artifact, not the plan (observed: 1 GiB task allocations +
    spill-to-disk-full at 64x). Per-doc permutations keep cross-doc
    shingle overlap at natural levels; replica 0 keeps original text."""
    shifts = dict(SHIFT_COLS)
    for t2, cols in (extra_shifts or {}).items():
        shifts[t2] = sorted(set(shifts.get(t2, [])) | set(cols))
    # fk_bases: column -> table whose row count sets that column's shift
    # stride. A foreign key must move with its REFERENCED table's stride
    # (e.g. o_custkey with customer's), or every replica's joins point
    # at rows that do not exist and a cascade/join probe measures orphan
    # noise instead of the plan.
    base_counts: dict[str, int] = {}

    def stride(table: str, col: str, own_n: int) -> int:
        bt = (fk_bases or {}).get(col)
        if bt is None or bt == table:
            return 10 * own_n
        if bt not in base_counts:
            base_counts[bt] = load_table(spark, BASE, bt).count()
        return 10 * base_counts[bt]

    for t in tables:
        df = load_table(spark, BASE, t)
        if t in shifts:
            n = df.count()
            d = df.select(
                "*",
                F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__rep"),
            )
            for c in shifts[t]:
                d = d.withColumn(c, F.col(c) + F.col("__rep") * stride(t, c, n))
            if t == "customer":
                suffix = F.substring(
                    F.md5(F.col("__rep").cast("string")), 1, 4
                )
                d = d.withColumn(
                    "c_name",
                    F.when(F.col("__rep") == 0, F.col("c_name")).otherwise(
                        F.concat(F.col("c_name"), F.lit("~"), suffix)
                    ),
                )
            if t == "documents" and word_salt:
                # Vocabulary-growing replication: suffix every WORD with a
                # replica tag, so replica corpora are disjoint in token
                # space. This models real corpus growth for TOKEN-blocked
                # operators (the prefix-filter join): new data brings new
                # vocabulary, so per-token buckets stay shallow and the
                # frequency table grows linearly. The scramble mode below
                # keeps the 1x vocabulary, which saturates the distinct-
                # shingle space and makes every token bucket k-times
                # deeper — measuring a fixture artifact (observed: 9.6x
                # wall at 8x, candidate mass ~k^2), not the plan.
                ws = F.split(F.col("text"), r"\s+")
                # LETTERS-ONLY tag, no separator: the engine tokenizer
                # splits on non-letters, so a '~'+hex tag would fragment
                # into corpus-hot one-char tokens ('a', 'b', ...) shared
                # by EVERY word — observed as 3856-doc prefix buckets and
                # 1.3e9 candidate mass at 8x. Translating hex digits to
                # letters keeps each salted word one distinct token.
                tag = F.translate(
                    F.substring(F.md5(F.col("__rep").cast("string")), 1, 4),
                    "0123456789",
                    "ghijklmnop",
                )
                salted_words = F.array_join(
                    F.transform(ws, lambda w: F.concat(w, F.lit("q"), tag)), " "
                )
                d = d.withColumn(
                    "text",
                    F.when(F.col("__rep") == 0, F.col("text")).otherwise(
                        salted_words
                    ),
                )
            elif t == "documents":
                ws = F.split(F.col("text"), r"\s+")
                # The sort key salts with (replica, doc, POSITION). The
                # position matters: without it, repeated words share one
                # key and sort into adjacent runs, so every scrambled doc
                # emits degenerate "w w w" trigram shingles that the whole
                # corpus shares — LSH buckets then hold ~all docs and the
                # band self-join explodes quadratically (observed as a
                # 55 GB spill at 64x). Per-position keys scatter repeats.
                salted = F.transform(
                    ws,
                    lambda w, i: F.struct(
                        F.md5(
                            F.concat(
                                w,
                                F.lit("|"),
                                F.col("__rep").cast("string"),
                                F.lit("|"),
                                F.col("doc_id").cast("string"),
                                F.lit("|"),
                                i.cast("string"),
                            )
                        ).alias("k"),
                        w.alias("w"),
                    ),
                )
                scrambled = F.array_join(
                    F.transform(F.sort_array(salted), lambda s: s["w"]), " "
                )
                d = d.withColumn(
                    "text",
                    F.when(F.col("__rep") == 0, F.col("text")).otherwise(scrambled),
                )
            if t == "documents" and inject_hot:
                # Skew stress (VERDICT r7 #8): append one UNSALTED hot
                # phrase to every 3rd doc across ALL replicas — its
                # interior shingle ("zzhot zzhot zzhot") becomes a
                # corpus-hot token carried by ~1/3 of the k-times corpus,
                # the token-frequency skew that would detonate a naive
                # token-blocked join. The prefix filter must keep it out
                # of every prefix bucket (prefixes take the RAREST
                # tokens), so candidate mass stays flat.
                d = d.withColumn(
                    "text",
                    F.when(
                        F.col("doc_id") % 3 == 0,
                        F.concat(
                            F.col("text"),
                            F.lit(" zzhot zzhot zzhot zzhot zzhot"),
                        ),
                    ).otherwise(F.col("text")),
                )
            # The explode build is map-side, so it inherits the SOURCE
            # file's partitioning — at sf0.1 that is one file, and a
            # 1-partition 64x fixture serializes every downstream scan
            # into a single task (observed: one straggler task, GC
            # thrash). Repartition to k so the written fixture has the
            # same parallelism the k-branch union used to produce.
            big = d.drop("__rep").repartition(k)
        else:
            big = df  # dims stay fixed, like real scale-up
        big.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")


def time_queries(spark, sf_dir: str, queries=QUERIES) -> dict[str, float]:
    from bench import run_query

    # Cold runs: the Kx fixture is always memo-cold (fresh path in the
    # memo key), so a memo-warm base reading would inflate the ratio of
    # memoized queries.
    out = {}
    specs = all_queries()
    for name in queries:
        rec = run_query(spark, name, specs[name].fn, sf_dir, cold=True)
        if "error" in rec:
            raise RuntimeError(f"{name} at {sf_dir}: {rec['error']}")
        out[name] = round(rec["seconds"], 2)
    return out


def distrank_parts_probe(spark, sf_dir: str) -> dict:
    """VERDICT r12 #3 'the knob works' leg: run the RFM plan (three
    distributed-rank legs over one cached rollup) under two fan-out
    settings of spark.graft.rank.parts. The timings may move (that is
    the knob's job); the canonical result hash MUST NOT — asserted here,
    in the probe itself, so the SCALE.md table carries the invariance
    fact, not a promise."""
    import hashlib

    from bench import run_query
    from map_reduce_go_spark.functions.distrank import RANK_PARTS_CONF
    from tests.oracle_compare import canonical_rows

    name = "orders_rfm_segmentation"
    fn = all_queries()[name].fn
    out: dict = {}
    hashes = {}
    for parts in (8, 32):
        spark.conf.set(RANK_PARTS_CONF, str(parts))
        rec = run_query(spark, name, fn, sf_dir, cold=False, sink=lambda d: d.toPandas())
        spark.conf.unset(RANK_PARTS_CONF)
        if "error" in rec:
            raise RuntimeError(f"rfm at {parts} parts: {rec['error']}")
        out[f"rfm_parts{parts}_s"] = round(rec["seconds"], 2)
        hashes[parts] = hashlib.md5(
            repr(canonical_rows(rec["result"])).encode()
        ).hexdigest()
    assert len(set(hashes.values())) == 1, f"fan-out changed results: {hashes}"
    out["hash_invariant"] = True
    out["result_hash"] = hashes[8][:16]
    return out


def _bucket_size_stats(rows, *keys: str) -> dict:
    """Bucket size distribution of ``rows`` grouped by ``keys``: bucket
    count, p50/p90/p99/max sizes, and the implied candidate mass
    Σ s·(s−1)/2."""
    sizes = rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("s"))
    row = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(F.percentile("s", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("s", F.lit(0.9)), 2).alias("p90"),
        F.round(F.percentile("s", F.lit(0.99)), 2).alias("p99"),
        F.max("s").alias("max"),
        F.sum((F.col("s") * (F.col("s") - 1) / 2).cast("long")).alias(
            "candidate_mass"
        ),
    ).collect()[0]
    return row.asDict()


def lsh_bucket_stats(spark, sf_dir: str) -> dict:
    """Band-bucket size distribution for the MinHash-LSH banding at this
    scale — the number the 'banding keeps the self-join bucketed' claim
    rests on. Mirrors lsh_candidate_pairs' banding exactly (same
    signatures, same band concatenation)."""
    from map_reduce_go_spark.operators.dedup import (
        N_BANDS,
        N_PERM,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs)
    r = N_PERM // N_BANDS
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat(*[F.col(f"sig{b * r + i}") for i in range(r)]).alias(
                            "bv"
                        ),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.bv")
    return _bucket_size_stats(bands, "band_id", "bv")


def _setsim_prefix(spark, sf_dir: str):
    """(every (doc_id, token) shingle row, the rows in each doc's L-token
    rarest prefix). Mirrors setsim_over's prefix construction exactly
    (same shingles, same (frequency, token) canonical order, same L)."""
    from pyspark.sql import Window

    from map_reduce_go_spark.operators.dedup import SETSIM_T, _shingle_arrays

    docs = load_table(spark, sf_dir, "documents")
    sa = (
        _shingle_arrays(docs)
        .select("doc_id", F.col("shingles").alias("ts"), F.col("n"))
        .where(F.col("n") > 0)
    )
    toks = sa.select("doc_id", "n", F.explode("ts").alias("token"))
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("f"))
    w_rn = Window.partitionBy("doc_id").orderBy("f", "token")
    ordered = toks.join(freq, "token").withColumn("rn", F.row_number().over(w_rn))
    prefix_len = F.col("n") - F.ceil(F.lit(SETSIM_T) * F.col("n")).cast("long") + 1
    return toks, ordered.where(F.col("rn") <= prefix_len)


def setsim_prefix_bucket_stats(spark, sf_dir: str) -> dict:
    """Prefix-token bucket size distribution for the prefix-filter join
    at this scale: how many docs carry each token in their rarest
    prefix."""
    _toks, prefix = _setsim_prefix(spark, sf_dir)
    return _bucket_size_stats(prefix, "token")


def filtered_ann_candidate_stats(spark, sf_dir: str) -> dict:
    """Candidate mass of the filtered-ANN join at this scale: the corpus
    is bucketed by (IVF cell, label) and each query probes NPROBE cells
    within its own label, so candidates = sum over probed (cell, label)
    buckets of their corpus size. The probe side is FIXED (N_QUERIES),
    so candidate mass growing ~linearly with the corpus while staying
    ~1/K_CELLS of an unpruned scan is exactly the designed behavior —
    the selectivity evidence behind ann_filtered_ivf's scale grade.
    Mirrors the operator's own cell assignment (shared memoized IVF
    build)."""
    from map_reduce_go_spark.operators.similarity import (
        N_QUERIES,
        NPROBE,
        _nearest_cells,
        ivf_centroids_for,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf_centroids_for(sf_dir, emb)
    corpus = emb.select(
        F.col("label").alias("v_label"),
        _nearest_cells(F.col("embedding"), centroids, 1)[0].alias("cell"),
    )
    buckets = corpus.groupBy("cell", "v_label").agg(F.count(F.lit(1)).alias("s"))
    probes = (
        emb.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("label").alias("v_label"),
            F.explode(
                _nearest_cells(F.col("embedding"), centroids, NPROBE)
            ).alias("cell"),
        )
        .groupBy("cell", "v_label")
        .agg(F.count(F.lit(1)).alias("q"))
    )
    n_corpus = emb.count()
    row = (
        buckets.join(probes, ["cell", "v_label"])
        .agg(
            F.sum(F.col("s") * F.col("q")).alias("candidates"),
            F.count(F.lit(1)).alias("probed_buckets"),
            F.max("s").alias("max_bucket"),
        )
        .collect()[0]
    )
    d = row.asDict()
    d["corpus_rows"] = n_corpus
    d["unpruned_candidates"] = n_corpus * _n_probe_queries(spark, sf_dir)
    return d


HOT_SHINGLE = "zzhot zzhot zzhot"


def hot_shingle_stats(spark, sf_dir: str) -> dict:
    """How the injected corpus-hot shingle behaves under the prefix
    filter: how many docs carry it, and how many PREFIX rows it occupies
    (the design invariant: 0 for any doc longer than the prefix bound —
    rare-token ordering exiles hot tokens from prefixes)."""
    toks, prefix = _setsim_prefix(spark, sf_dir)
    row = prefix.agg(
        F.coalesce(
            F.sum(F.when(F.col("token") == HOT_SHINGLE, 1)), F.lit(0)
        ).alias("hot_in_prefix")
    ).collect()[0]
    hot_docs = toks.where(F.col("token") == HOT_SHINGLE).count()
    return {"hot_doc_count": hot_docs, "hot_in_prefix": int(row["hot_in_prefix"])}


def skew_playbook_probe(spark, sf_dir: str) -> dict:
    """VERDICT r10 #8 — the skew playbook measured end to end over the
    events fact with a planted single hot key (event_id % 10 < 3, i.e.
    30% of rows, remapped to join_key -1; the replicator's event_id shift
    is a multiple of 10, so the plant survives replication exactly):
    audit signature -> skew_decision -> the strategies timed on identical
    data. Broadcast is disabled for the join arms (a broadcast join has
    no shuffle to skew — the playbook is about the shuffle-join regime);
    AQE confs are toggled per arm and restored. Every arm runs the SAME
    payload-preserving aggregate (sum of props lengths), for two reasons:
    identical bytes make the timings comparable, and a bare count() lets
    column pruning strip the payload so the hot partition falls under the
    skew-detection byte threshold — AQE then correctly (but confusingly)
    skips the split. That pruning interaction is itself a playbook fact:
    skew mitigation triggers on SHUFFLED BYTES, not row counts. Row
    counts asserted equal across arms — mitigation must never change
    answers."""
    import time as _t

    from map_reduce_go_spark.functions.skew import (
        key_skew_signature,
        salted_join,
        skew_decision,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 10 < 3, F.lit(-1))
        .otherwise(F.col("user_id"))
        .cast("long")
        .alias("join_key"),
        F.col("props").alias("payload"),
    )
    # Plain (un-aggregated) dim side: user ids are NOT shifted by the
    # replicator, so 0..1499 plus the planted -1 covers every key at any
    # k. Bare shuffle input — an aggregate here would disable AQE's skew
    # split (OptimizeSkewedJoin pattern-matches
    # SMJ(Sort(Shuffle), Sort(Shuffle)) only; tests/test_skew_playbook.py).
    dim = (
        spark.range(1500)
        .select(F.col("id").alias("join_key"), F.lit(1).alias("attr"))
        .unionAll(
            spark.range(1).select(
                (F.col("id") - 1).alias("join_key"), F.lit(1).alias("attr")
            )
        )
    )
    t0 = _t.time()
    sig = key_skew_signature(ev, "join_key").collect()[0]
    t_audit = round(_t.time() - t0, 2)
    decision = skew_decision(sig["n_rows"], sig["max_cnt"], sig["p99_cnt"], 32)

    def timed(mk):
        # The payload-preserving probe: identical bytes in every arm.
        df = mk().groupBy().agg(
            F.sum(F.length("payload")).alias("payload_bytes"),
            F.count(F.lit(1)).alias("n"),
        )
        t = _t.time()
        row = df.collect()[0]
        return df, int(row["n"]), round(_t.time() - t, 2)

    from map_reduce_go_spark.functions.skew import skew_lab_confs

    with skew_lab_confs(spark, aqe=False):
        _, n_plain, t_plain = timed(lambda: ev.join(dim, "join_key"))
        _, n_salt, t_salt = timed(lambda: salted_join(ev, dim, on=["join_key"]))
    with skew_lab_confs(spark, aqe=True):
        df_aqe, n_aqe, t_aqe = timed(lambda: ev.join(dim, "join_key"))
        aqe_skew = (
            "skew=true" in df_aqe._jdf.queryExecution().executedPlan().toString()
        )
    assert n_plain == n_salt == n_aqe, (n_plain, n_salt, n_aqe)
    return {
        "n_rows": int(sig["n_rows"]),
        "hot_share_ppm": int(sig["hot_share_ppm"]),
        "decision": decision,
        "audit_s": t_audit,
        "plain_join_noaqe_s": t_plain,
        "salted_join_s": t_salt,
        "plain_join_aqe_s": t_aqe,
        "aqe_skew_split_fired": bool(aqe_skew),
        "rows_equal": True,
    }


def cls_train_probe(spark, sf_dir: str) -> dict:
    """Scale probe for the in-engine classifier training loop: full
    fixed-iteration training at this scale in BOTH materialization forms
    (r12) — localCheckpoint (fixture/driver form) vs persist-once parquet
    featurize (the 100 TB form, VERDICT r11 #3) — reporting both walls,
    the miss trajectory, and that the two trajectories are identical.
    The loop's scale axes: one corpus featurize (materialized once), per
    iteration one doc-keyed residual join + one slot-keyed agg to
    <=CLS_DIM rows."""
    import shutil
    import tempfile
    import time as _t

    from map_reduce_go_spark.operators.pipeline import train_quality_classifier

    docs = load_table(spark, sf_dir, "documents")
    t0 = _t.time()
    w_mem, traj = train_quality_classifier(spark, docs)
    mem_s = _t.time() - t0
    fp = tempfile.mkdtemp(prefix="clstrain-feats-") + "/feats"
    try:
        t0 = _t.time()
        w_pq, traj_pq = train_quality_classifier(spark, docs, feats_path=fp)
        pq_s = _t.time() - t0
    finally:
        shutil.rmtree(os.path.dirname(fp), ignore_errors=True)
    return {
        "train_s": round(mem_s, 2),
        "train_parquet_feats_s": round(pq_s, 2),
        "n_docs": docs.count(),
        "miss_trajectory": [t["misclassified"] for t in traj],
        "trajectory_identical_across_forms": (w_mem, traj) == (w_pq, traj_pq),
    }


def kv_stream_probe(spark, sf_dir: str) -> dict:
    """The KV streaming state store vs key cardinality (VERDICT r13 #6):
    build a full-custkey-cardinality op-log from orders, batch-fold it
    (kv_fold), drain the SAME log through the stateful streaming twin in
    3 seq-ordered waves, and ASSERT the drained snapshots hash-equal the
    batch fold — then report the state store's own progress metrics
    (numRowsTotal, memory bytes) so SCALE.md's table shows state growing
    with keys, not with ops. Uses the Spark-4 transformWithState
    processor on RocksDB when the runtime allows, else the
    applyInPandasWithState twin (same semantics, pytest-proven equal)."""
    from pyspark.sql import Window

    from map_reduce_go_spark.operators.kvstore import (
        kv_fold,
        kv_running_state,
        kv_running_state_tws,
        tws_runtime_available,
    )

    orders = load_table(spark, sf_dir, "orders")
    log = orders.select(
        F.concat(F.col("o_custkey").cast("string"), F.lit("-key")).alias("key"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("put"))
        .when(F.col("o_orderkey") % 5 == 4, F.lit("get"))
        .otherwise(F.lit("append"))
        .alias("op"),
        F.concat(
            F.col("o_orderstatus"), (F.col("o_orderkey") % 10).cast("string")
        ).alias("val"),
    )

    def state_hash(df) -> int:
        # Order-insensitive canonical scalar over the final per-key
        # state: ONE number crosses to the driver, never the state.
        h = F.xxhash64(
            F.concat_ws(
                "\x01",
                "key",
                "value",
                F.col("n_applied").cast("string"),
                F.col("n_gets").cast("string"),
            )
        )
        return int(
            df.select(F.sum(h.cast("decimal(38,0)")).alias("h")).first()["h"]
        )

    n_ops = log.count()
    n_keys = log.select("key").distinct().count()
    t0 = time.perf_counter()
    batch_hash = state_hash(
        kv_fold(log).select("key", "value", "n_applied", "n_gets")
    )
    batch_s = time.perf_counter() - t0

    # Three seq-ordered arrival waves, one file each (the ordered-log
    # contract: a key's seqs never move backwards across micro-batches).
    src = tempfile.mkdtemp(prefix="kvwaves_")
    lo, hi = log.agg(F.min("seq"), F.max("seq")).first()
    cuts = [lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3]
    waves = [
        log.where(F.col("seq") <= cuts[0]),
        log.where((F.col("seq") > cuts[0]) & (F.col("seq") <= cuts[1])),
        log.where(F.col("seq") > cuts[1]),
    ]
    for i, w in enumerate(waves):
        stage = tempfile.mkdtemp(prefix="kvstage_")
        w.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(Path(stage).glob("part-*.parquet"))
        dst = Path(src) / f"wave-{i:03d}.parquet"
        shutil.move(str(part), dst)
        shutil.rmtree(stage, ignore_errors=True)
        t = time.time() - 30 + 10 * i
        os.utime(dst, (t, t))

    use_tws = tws_runtime_available()
    make = kv_running_state_tws if use_tws else kv_running_state
    prior = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    if use_tws:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    name = f"kvprobe_{os.getpid()}_{abs(hash(sf_dir)) % 99991}"
    ckpt = tempfile.mkdtemp(prefix="kvckpt_")
    try:
        stream = (
            spark.readStream.schema("key string, seq long, op string, val string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        t0 = time.perf_counter()
        q = (
            make(stream)
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        stream_s = time.perf_counter() - t0
        state_rows = 0
        state_bytes = 0
        for p in q.recentProgress or []:
            for so in (p or {}).get("stateOperators") or []:
                state_rows = max(state_rows, int(so.get("numRowsTotal") or 0))
                state_bytes = max(
                    state_bytes,
                    int(so.get("memoryUsedBytes") or 0),
                    int(
                        (so.get("customMetrics") or {}).get(
                            "rocksdbTotalMemoryUsageBytes"
                        )
                        or 0
                    ),
                )
        out = spark.table(name)
        rn = F.row_number().over(
            Window.partitionBy("key").orderBy(F.col("seq").desc())
        )
        snaps = (
            out.where(F.col("kind") == "state")
            .withColumn("rn", rn)
            .where(F.col("rn") == 1)
        )
        stream_hash = state_hash(
            snaps.select("key", "value", "n_applied", "n_gets")
        )
        if stream_hash != batch_hash:
            raise AssertionError(
                f"KV stream snapshots != batch fold at {sf_dir}: "
                f"{stream_hash} vs {batch_hash}"
            )
    finally:
        if prior is None and use_tws:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        elif use_tws:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prior
            )
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return {
        "api": "transformWithState" if use_tws else "applyInPandasWithState",
        "n_ops": n_ops,
        "n_keys": n_keys,
        "batch_fold_s": round(batch_s, 2),
        "stream_drain_s": round(stream_s, 2),
        "state_rows_total": state_rows,
        "state_memory_bytes": state_bytes,
        "snapshot_equals_batch_fold": True,
    }


def _n_probe_queries(spark, sf_dir: str) -> int:
    from map_reduce_go_spark.operators.similarity import N_QUERIES

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.where(F.col("vec_id") < N_QUERIES).count()


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    family = "mixed"
    for a in sys.argv[1:]:
        if a.startswith("--family="):
            family = a.split("=", 1)[1]
    k = int(args[0]) if args else 8
    queries, tables, extra, fk = {
        "dedup": (DEDUP_QUERIES, DEDUP_TABLES, None, None),
        "round5": (R5_QUERIES, R5_TABLES, R5_EXTRA_SHIFTS, None),
        "setsim": (SETSIM_QUERIES, SETSIM_TABLES, None, None),
        "round6": (R6_QUERIES, R6_TABLES, None, None),
        "round6b": (R6B_QUERIES, R6B_TABLES, R6B_EXTRA_SHIFTS, None),
        "round7": (R7_QUERIES, R7_TABLES, None, None),
        "round7b": (R7B_QUERIES, R7B_TABLES, R7B_EXTRA_SHIFTS, R7B_FK_BASES),
        "round8": (R8_QUERIES, R8_TABLES, R8_EXTRA_SHIFTS, R8_FK_BASES),
        "setsimskew": (SETSIM_QUERIES, SETSIM_TABLES, None, None),
        "round8b": (R8B_QUERIES, R8B_TABLES, None, None),
        "round8c": (R8C_QUERIES, R8C_TABLES, None, R8C_FK_BASES),
        "mleval": (MLEVAL_QUERIES, MLEVAL_TABLES, None, None),
        "round10": (R10_QUERIES, R10_TABLES, None, None),
        "round10b": (R10B_QUERIES, R10B_TABLES, None, None),
        "round11": (R11_QUERIES, R11_TABLES, None, None),
        "distrank": (DISTRANK_QUERIES, DISTRANK_TABLES, DISTRANK_EXTRA_SHIFTS, None),
        "round14": (R14_QUERIES, R14_TABLES, R14_EXTRA_SHIFTS, None),
        "suite": (None, TABLES, SUITE_EXTRA_SHIFTS, SUITE_FK_BASES),
    }.get(family, (QUERIES, TABLES, None, None))
    if family == "suite":
        queries = suite_queries()
    # Families that run their own probe at 1x and Kx instead of timing
    # queries, each with the replication it is measured under. clstrain
    # replicates with word_salt=False: replicas keep the 1x WORD MULTISET
    # per doc (the scramble mode permutes word order but substitutes
    # nothing), so the marker-token label survives — word_salt would
    # suffix every word and relabel all replicas negative, measuring a
    # destroyed-label artifact. Preserved multisets also make a sharp
    # invariance check: the featurize (slot COUNTS) and the count-based
    # label are order-blind, so per-class MEAN gradients see identical
    # operands at any k and the per-iteration miss counts must be exactly
    # k-fold base's. (An order-SENSITIVE feature — n-grams, shingles —
    # would NOT inherit this invariance under scramble replication.)
    probe, probe_replication = {
        "clstrain": (cls_train_probe, {"tables": ("documents",), "word_salt": False}),
        "kvstream": (
            kv_stream_probe,
            {"tables": KVSTREAM_TABLES, "extra_shifts": KVSTREAM_EXTRA_SHIFTS},
        ),
        "skewjoin": (skew_playbook_probe, {"tables": ("events",)}),
    }.get(family, (None, {}))
    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = tempfile.mkdtemp(prefix="sfbig_")
    try:
        if probe is not None:
            replicate(spark, k, out_dir, **probe_replication)
            base = probe(spark, BASE)
            big = probe(spark, out_dir)
            print(json.dumps({"k": k, "family": family, "base": base, "big": big}))
            return
        replicate(
            spark,
            k,
            out_dir,
            tables=tables,
            extra_shifts=extra,
            word_salt=(family in ("setsim", "setsimskew", "round6", "round8c", "round10", "round10b", "round11", "round14", "suite")),
            fk_bases=fk,
            inject_hot=(family == "setsimskew"),
        )
        time_queries(spark, BASE, queries)  # warm-up: codegen/JIT/footer caches
        base = time_queries(spark, BASE, queries)
        big = time_queries(spark, out_dir, queries)
        ratios = {q: round(big[q] / base[q], 2) for q in queries}
        out = {"k": k, "family": family, "base_s": base, "big_s": big, "ratio": ratios}
        if family == "dedup":
            out["lsh_buckets_base"] = lsh_bucket_stats(spark, BASE)
            out["lsh_buckets_big"] = lsh_bucket_stats(spark, out_dir)
        if family == "setsim":
            out["prefix_buckets_base"] = setsim_prefix_bucket_stats(spark, BASE)
            out["prefix_buckets_big"] = setsim_prefix_bucket_stats(spark, out_dir)
        if family == "round7":
            out["filtered_ann_base"] = filtered_ann_candidate_stats(spark, BASE)
            out["filtered_ann_big"] = filtered_ann_candidate_stats(spark, out_dir)
        if family == "setsimskew":
            out["prefix_buckets_big"] = setsim_prefix_bucket_stats(spark, out_dir)
            out["hot_shingle_big"] = hot_shingle_stats(spark, out_dir)
        if family == "distrank":
            out["parts_knob_big"] = distrank_parts_probe(spark, out_dir)
        print(json.dumps(out))
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
