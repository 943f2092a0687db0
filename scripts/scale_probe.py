"""Scale-up probe: replicate sf0.1 fixtures K× (keys shifted so
cardinalities grow linearly) into a temp dir, then time a family's
queries at 1× and K× to check the plans scale near-linearly — the local
stand-in for "would this survive 100×". A family's stat functions
(bucket-size distributions, candidate mass, its own end-to-end probes)
run at both scales too.

Usage:
    python scripts/scale_probe.py [K] [--family=NAME]   # default 8, mixed

Families (``FAMILIES``; each entry's comment says why it replicates the
way it does): mixed (default), dedup, round5, setsim, setsimskew,
round6, round6b, round7, round7b, round8, round8b, round8c, mleval,
round10, round10b, round11, distrank, round14, suite, clstrain,
kvstream, skewjoin. An unknown name exits 2 before any Spark session.

Prints one JSON line: ``base_s``/``big_s``/``ratio`` per query (families
with queries) and ``<stat>_base``/``<stat>_big`` per stat.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from bench import HEADLINE, run_query  # noqa: E402
from map_reduce_go_spark import get_spark  # noqa: E402
from map_reduce_go_spark.functions.caching import release_caches  # noqa: E402
from map_reduce_go_spark.registry import all_queries  # noqa: E402
from map_reduce_go_spark.sources.readers import TABLES, load_table  # noqa: E402

BASE = "/root/testdata/sf0.1"
# Key columns shifted per replica in every family, so joins/groups grow
# linearly instead of multiplying duplicate keys. A replicated table is
# one with shift columns; the rest (dims) are copied fixed, like real
# scale-up.
SHIFT_COLS = {
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey",),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
HOT_SHINGLE = "zzhot zzhot zzhot"
# Headliners the suite family leaves out, with the reason.
SUITE_EXCLUDE = {
    "semdedup_prune": "within-cell quadratic by design; K_CELLS grows with N",
    "dedup_embedding_cosine": "exact all-pairs O(N^2) by definition; LSH/IVF are its scale path",
}


@dataclass(frozen=True)
class Family:
    """One probe family: what to replicate and how, what to time, and
    which stats to read at both scales."""

    queries: tuple[str, ...] = ()
    tables: tuple[str, ...] = TABLES
    # table -> key columns shifted per replica on top of SHIFT_COLS
    shifts: Mapping[str, tuple[str, ...]] = field(default_factory=dict)
    # column -> table whose row count sets that column's shift stride
    fk_bases: Mapping[str, str] = field(default_factory=dict)
    # documents: suffix every word with a replica tag (vocabulary grows)
    # instead of scrambling word order (vocabulary stays the 1x one)
    word_salt: bool = False
    # documents: append an unsalted hot phrase to every 3rd doc
    inject_hot: bool = False
    # output key prefix -> fn(spark, sf_dir) -> dict
    stats: Mapping[str, Callable[..., dict]] = field(default_factory=dict)

    def shift_cols(self) -> dict[str, list[str]]:
        """table -> every key column shifted per replica (sorted)."""
        out = {t: sorted(c) for t, c in SHIFT_COLS.items()}
        for t, cols in self.shifts.items():
            out[t] = sorted(set(out.get(t, ())) | set(cols))
        return out


def replicate(spark, k: int, out_dir: str, fam: Family) -> None:
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
    shifts = fam.shift_cols()
    # fk_bases: column -> table whose row count sets that column's shift
    # stride. A foreign key must move with its REFERENCED table's stride
    # (e.g. o_custkey with customer's), or every replica's joins point
    # at rows that do not exist and a cascade/join probe measures orphan
    # noise instead of the plan.
    base_counts: dict[str, int] = {}

    def stride(table: str, col: str, own_n: int) -> int:
        bt = fam.fk_bases.get(col)
        if bt is None or bt == table:
            return 10 * own_n
        if bt not in base_counts:
            base_counts[bt] = load_table(spark, BASE, bt).count()
        return 10 * base_counts[bt]

    for t in fam.tables:
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
            if t == "documents" and fam.word_salt:
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
            if t == "documents" and fam.inject_hot:
                # Skew stress: append one UNSALTED hot phrase to every 3rd
                # doc across ALL replicas — its interior shingle
                # (HOT_SHINGLE) becomes a
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


def time_queries(spark, sf_dir: str, queries) -> dict[str, float]:
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
    """Band-bucket size distribution of the engine's MinHash-LSH banding
    at this scale — the number the 'banding keeps the self-join
    bucketed' claim rests on."""
    from map_reduce_go_spark.operators.dedup import (
        _shingle_arrays,
        lsh_bands,
        minhash_signatures,
    )

    arrays = _shingle_arrays(load_table(spark, sf_dir, "documents"))
    return _bucket_size_stats(lsh_bands(minhash_signatures(arrays)), "band_id", "bv")


def setsim_prefix_bucket_stats(spark, sf_dir: str) -> dict:
    """Prefix-token bucket size distribution of the engine's prefix-filter
    join at this scale: how many docs carry each token in their rarest
    prefix."""
    from map_reduce_go_spark.operators.dedup import setsim_prefix

    _sa, _freq, prefix = setsim_prefix(load_table(spark, sf_dir, "documents"))
    return _bucket_size_stats(prefix, "h")


def filtered_ann_candidate_stats(spark, sf_dir: str) -> dict:
    """Candidate mass of the filtered-ANN join at this scale: the corpus
    is bucketed by (IVF cell, label) and each query probes NPROBE cells
    within its own label, so candidates = sum over probed (cell, label)
    buckets of their corpus size. The probe side is FIXED (N_QUERIES),
    so candidate mass growing ~linearly with the corpus while staying
    ~1/K_CELLS of an unpruned scan is exactly the designed behavior —
    the selectivity evidence behind ann_filtered_ivf's scale grade.
    Uses the operator's own cell assignment (shared memoized IVF
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


def hot_shingle_stats(spark, sf_dir: str) -> dict:
    """How the injected corpus-hot shingle behaves under the engine's
    prefix filter: how many docs carry it, and how many PREFIX rows it
    occupies (the design invariant: 0 for any doc longer than the prefix
    bound — rare-token ordering exiles hot tokens from prefixes)."""
    from map_reduce_go_spark.operators.dedup import setsim_prefix

    sa, _freq, prefix = setsim_prefix(load_table(spark, sf_dir, "documents"))
    hot = F.col("h") == F.xxhash64(F.lit(HOT_SHINGLE))
    hot_docs = sa.select(F.explode("tsh").alias("h")).where(hot).count()
    return {"hot_doc_count": hot_docs, "hot_in_prefix": prefix.where(hot).count()}


def skew_playbook_probe(spark, sf_dir: str) -> dict:
    """The skew playbook measured end to end over the
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
    t0 = time.time()
    sig = key_skew_signature(ev, "join_key").collect()[0]
    t_audit = round(time.time() - t0, 2)
    decision = skew_decision(sig["n_rows"], sig["max_cnt"], sig["p99_cnt"], 32)

    def timed(mk):
        # The payload-preserving probe: identical bytes in every arm.
        df = mk().groupBy().agg(
            F.sum(F.length("payload")).alias("payload_bytes"),
            F.count(F.lit(1)).alias("n"),
        )
        t = time.time()
        row = df.collect()[0]
        return df, int(row["n"]), round(time.time() - t, 2)

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
    — localCheckpoint (fixture/driver form) vs persist-once parquet
    featurize (the 100 TB form) — reporting both walls,
    the miss trajectory, and that the two trajectories are identical.
    The loop's scale axes: one corpus featurize (materialized once), per
    iteration one doc-keyed residual join + one slot-keyed agg to
    <=CLS_DIM rows."""
    from map_reduce_go_spark.operators.pipeline import train_quality_classifier

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    w_mem, traj = train_quality_classifier(spark, docs)
    mem_s = time.time() - t0
    fp = tempfile.mkdtemp(prefix="clstrain-feats-") + "/feats"
    try:
        t0 = time.time()
        w_pq, traj_pq = train_quality_classifier(spark, docs, feats_path=fp)
        pq_s = time.time() - t0
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
    """The KV streaming state store vs key cardinality:
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




_CUST_ORDERS = {"customer": ("c_custkey",), "orders": ("o_custkey",)}
_FK_CASCADE = {"o_custkey": "customer", "l_orderkey": "orders"}

FAMILIES: dict[str, Family] = {
    "mixed": Family(
        queries=(
            "q1_pricing_summary",
            "q3_top_revenue_orders",
            "wordcount",
            "dedup_minhash_lsh",
            "funnel_view_click_purchase",
            "bigram_lm_doc_score",
        ),
    ),
    # The dedup/ANN scale path (exact digest dedup, banded MinHash-LSH, IVF
    # search) with the LSH band-bucket size distribution (p50/p90/p99/max
    # + implied candidate-pair mass) at both scales — the backing for
    # "banding bounds hot buckets; AQE splits the rest". Left out:
    # semdedup_prune (within-cell quadratic; its K_CELLS must grow with N)
    # and dedup_embedding_cosine (exact all-pairs is O(N²) by definition).
    "dedup": Family(
        queries=("dedup_exact", "dedup_minhash_lsh", "ann_ivf_cosine"),
        tables=("documents", "embeddings"),
        stats={"lsh_buckets": lsh_bucket_stats},
    ),
    # FastSS edit-distance join, CMS build and two event-table maintenance
    # shapes. Customer names get a 4-hex replica salt (distinct suffixes
    # keep cross-replica name distances >= 2 almost surely, so true-pair
    # density stays ~linear; a bare numeric suffix would make every
    # cross-replica pair distance 1). user_id shifts too, so event keys
    # grow linearly instead of k-times-deeper per-user histories.
    "round5": Family(
        queries=(
            "editdist_deletion_join",
            "cms_heavy_hitters",
            "upsert_latest_snapshot",
            "scd2_user_type_history",
        ),
        tables=("customer", "documents", "events"),
        shifts={"customer": ("c_custkey",), "events": ("user_id",)},
    ),
    # The prefix-filter similarity join with its prefix-token bucket
    # distribution — the backing for "prefix buckets are RARE-token
    # buckets, small by construction". Vocabulary-growing word salt: the
    # join is token-blocked.
    "setsim": Family(
        queries=("setsim_prefix_filter_join",),
        tables=("documents",),
        word_salt=True,
        stats={"prefix_buckets": setsim_prefix_bucket_stats},
    ),
    # setsim under token-frequency skew: a hot shingle on every 3rd doc of
    # every replica must stay out of every prefix bucket.
    "setsimskew": Family(
        queries=("setsim_prefix_filter_join",),
        tables=("documents",),
        word_salt=True,
        inject_hot=True,
        stats={
            "prefix_buckets": setsim_prefix_bucket_stats,
            "hot_shingle": hot_shingle_stats,
        },
    ),
    # Iterative BPE, the shingle-novelty join, within-order basket pairs
    # and the backlog sweep-line. Word salt: novelty and BPE are
    # token-blocked; orders/lineitem keys shift so baskets grow in COUNT,
    # not in per-order depth.
    "round6": Family(
        queries=(
            "bpe_merge_steps",
            "shingle_novelty_per_doc",
            "basket_part_pairs_topk",
            "order_backlog_daily",
        ),
        tables=("documents", "orders", "lineitem"),
        word_salt=True,
    ),
    # Governance/temporal/embedding plans. user_id and o_custkey shift so
    # the number of USERS and CUSTOMERS grows linearly (rolling-distinct
    # state, TWAP groups, island counts), not per-key history depth.
    # Embeddings grow in corpus rows while both probe sides stay fixed at
    # 20 queries, so the int8/negative-mining probes measure scan growth.
    "round6b": Family(
        queries=(
            "rolling_7d_distinct_users",
            "time_weighted_avg_value_per_user",
            "order_gap_islands",
            "embedding_int8_quant_recall",
            "hard_negative_mining",
        ),
        tables=("events", "orders", "embeddings"),
        shifts={"events": ("user_id",), "orders": ("o_custkey",)},
    ),
    # equidepth exercises the two full-width shuffles of the distributed
    # rank; bm25 the tokenize+agg (scramble replication: the query terms
    # stay corpus-hot, df and tf-row mass both grow k-fold — word salt
    # would remove the query terms from every replica); chunking the pure
    # map-side explode; filtered ANN the corpus-growing scan with a fixed
    # 20-query probe side, plus its candidate mass at both scales.
    "round7": Family(
        queries=(
            "equidepth_histogram_price_approx",
            "bm25_doc_ranking",
            "doc_chunking_fixed_tokens",
            "ann_filtered_ivf",
        ),
        tables=("orders", "documents", "embeddings"),
        stats={"filtered_ann": filtered_ann_candidate_stats},
    ),
    # User-behavior plans. FK-consistent replication: o_custkey shifts by
    # CUSTOMER's stride and l_orderkey by ORDERS', so each replica's
    # customer->orders->lineitem cascade stays intact and
    # gdpr_delete_impact measures real frontier growth, not orphan noise.
    "round7b": Family(
        queries=(
            "churn_weekly_rates",
            "weekly_activity_bitmap",
            "session_path_patterns",
            "gdpr_delete_impact",
        ),
        tables=("events", "customer", "orders", "lineitem"),
        shifts={"events": ("user_id",), **_CUST_ORDERS},
        fk_bases=_FK_CASCADE,
    ),
    # Fact-heavy plans, same FK-consistent model. l_partkey deliberately
    # does NOT shift: at real scale-up the part catalog is fixed and
    # per-part depth grows — the spectrum shifts right by ~log2(k)
    # buckets, the workload the skew audit exists for.
    "round8": Family(
        queries=(
            "pagerank_nation_trade",
            "mad_outliers_by_segment",
            "survival_order_fulfillment",
            "partkey_skew_spectrum",
        ),
        tables=("customer", "orders", "lineitem", "supplier", "nation"),
        shifts=_CUST_ORDERS,
        fk_bases=_FK_CASCADE,
    ),
    # The retrieval/chunking trio. Scramble replication (BM25's query
    # terms must stay corpus-hot, as in round7); cdc is the only
    # byte-linear plan (per-byte boundary tests); matryoshka is the knn
    # shape (corpus grows, probe side fixed).
    "round8b": Family(
        queries=("cdc_chunk_stats", "rrf_fusion_topk", "matryoshka_truncation_recall"),
        tables=("documents", "embeddings"),
    ),
    # Word salt: SNM sort keys and winnowing fingerprints must grow in
    # DISTINCT content (identical replicas would pile exact duplicates into
    # every neighborhood/posting list). l_partkey stays UNSHIFTED:
    # replication deepens each part's receipt/issue history k-fold, the
    # FIFO overlap-join's scale axis; l_orderkey moves with orders' stride
    # so order-level joins stay FK-consistent. Bootstrap's axis is row
    # count alone (the resample state is 64 agg columns regardless).
    "round8c": Family(
        queries=(
            "feature_hashing_vectorize",
            "winnowing_fingerprints",
            "dedup_sorted_neighborhood",
            "fifo_inventory_allocation",
            "bootstrap_ci_avg_price",
        ),
        tables=("documents", "orders", "lineitem"),
        fk_bases={"l_orderkey": "orders"},
        word_salt=True,
    ),
    # Model-evaluation plans. Plain replication: the scale axis is FACT
    # rows feeding a bounded rollup — AUC's rank frame is the
    # distinct-VALUE set (constant under replication, as for a real score
    # column with bounded precision), PSI/stump ride the distinct-n_chars /
    # bucket rollups, CUSUM the calendar-day rollup, Spearman's rank frames
    # the distinct quantity/price-cent sets. Expected ratios well under k:
    # the k-fold cost is the scan + map-side combine.
    "mleval": Family(
        queries=(
            "auc_value_by_event_type",
            "psi_doclen_drift",
            "decision_stump_doclen",
            "cusum_daily_changepoint",
            "spearman_quantity_price",
        ),
        tables=("events", "documents", "lineitem"),
    ),
    # Gear-CDC head-to-head with the md5 form at identical corpus bytes,
    # plus the persisted IVF index (marker-gated reuse means the k× number
    # is a fresh build over the k× corpus). Word salt so CDC boundary
    # positions aren't k identical copies.
    "round10": Family(
        queries=(
            "cdc_gear_chunk_stats",
            "cdc_chunk_stats",
            "cdc_chunk_dedup",
            "ann_ivf_persisted",
        ),
        tables=("documents", "embeddings"),
        word_salt=True,
    ),
    # The classifier pair (one corpus pass + bounded rollup), the
    # ranking-quality probe (two broadcast-probe searches over the k×
    # corpus) and the persisted LSH index (the k× number is a fresh
    # bucket-partitioned build plus the pruned probe). Word salt so the
    # classifier's hash-slot distribution isn't k copies.
    "round10b": Family(
        queries=(
            "quality_classifier_score",
            "classifier_calibration_bins",
            "ann_ranking_quality",
            "ann_lsh_persisted",
        ),
        tables=("documents", "embeddings"),
        word_salt=True,
    ),
    # The quarantine decode path: per-blob PNG work in mapInPandas, scale
    # axis blobs decoded per second. Word salt so planted-PNG pixel
    # payloads differ per replica.
    "round11": Family(
        queries=("multimodal_quarantine_audit",),
        tables=("documents",),
        word_salt=True,
    ),
    # The distributed-rank adopters: the scale axis is CUSTOMERS RANKED, so
    # o_custkey shifts (the default shifts only o_orderkey, which would
    # grow orders-per-customer instead of the rank frame).
    "distrank": Family(
        queries=(
            "orders_rfm_segmentation",
            "revenue_lorenz_gini",
            "customer_spend_deciles",
        ),
        tables=("orders",),
        shifts={"orders": ("o_custkey",)},
    ),
    # Maximal-span dedup (match volume is the scale axis, bounded by
    # candidate degree under the stop-filter) and the shard-controller
    # fold, whose data side is the orders key-space distinct (grows with
    # o_custkey). nation has no shift entry: the op-log is control-plane
    # metadata and must NOT grow with data.
    "round14": Family(
        queries=("dedup_maximal_spans", "shardctrler_apply_log"),
        tables=("documents", "orders", "nation"),
        shifts={"orders": ("o_custkey",)},
        word_salt=True,
    ),
    # One suite-level curve: every bench.py headliner against one
    # full-model fixture. Facts + customer grow (FK-consistent strides),
    # the true dims (region/nation/supplier/part) stay fixed, documents
    # grow vocabulary-fresh so token-blocked plans measure corpus growth.
    "suite": Family(
        queries=tuple(q for q in HEADLINE if q not in SUITE_EXCLUDE),
        shifts={"events": ("user_id",), **_CUST_ORDERS},
        fk_bases=_FK_CASCADE,
        word_salt=True,
    ),
    # The classifier training loop in both materialization forms. No word
    # salt: replicas keep the 1x WORD MULTISET per doc (scramble permutes
    # order, substitutes nothing), so the marker-token label survives —
    # word salt would relabel every replica negative. Preserved multisets
    # also make a sharp invariance check: the featurize (slot COUNTS) and
    # the count-based label are order-blind, so per-iteration miss counts
    # must be exactly k-fold base's.
    "clstrain": Family(tables=("documents",), stats={"clstrain": cls_train_probe}),
    # The KV streaming state store vs KEY CARDINALITY: the probe's op-log
    # keys by full o_custkey, which shifts per replica.
    "kvstream": Family(
        tables=("orders",),
        shifts={"orders": ("o_custkey",)},
        stats={"kvstream": kv_stream_probe},
    ),
    # The skew playbook over events with a planted hot key (the event_id
    # shift is a multiple of 10, so the plant survives replication).
    "skewjoin": Family(tables=("events",), stats={"skewjoin": skew_playbook_probe}),
}


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    family = "mixed"
    for a in sys.argv[1:]:
        if a.startswith("--family="):
            family = a.split("=", 1)[1]
    if family not in FAMILIES:
        print(
            f"unknown --family={family}; valid: {', '.join(FAMILIES)}",
            file=sys.stderr,
        )
        return 2
    fam = FAMILIES[family]
    k = int(args[0]) if args else 8
    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = tempfile.mkdtemp(prefix="sfbig_")
    try:
        replicate(spark, k, out_dir, fam)
        out: dict = {"k": k, "family": family}
        if fam.queries:
            time_queries(spark, BASE, fam.queries)  # warm-up: codegen/JIT/footer caches
            base = time_queries(spark, BASE, fam.queries)
            big = time_queries(spark, out_dir, fam.queries)
            ratios = {q: round(big[q] / base[q], 2) for q in fam.queries}
            out.update(base_s=base, big_s=big, ratio=ratios)
        for name, stat in fam.stats.items():
            for scale, sf_dir in (("base", BASE), ("big", out_dir)):
                try:
                    out[f"{name}_{scale}"] = stat(spark, sf_dir)
                finally:
                    release_caches()
        print(json.dumps(out))
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
