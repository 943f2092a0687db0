"""Persisted partition-pruned IVF index (VERDICT r9 brief #3): the
on-disk index builds once per corpus snapshot, a second session-equivalent
call reuses it without retraining, the probe scan carries a
PartitionFilters cell IN (...) predicate (static partition pruning — the
mirror of test_dynamic_partition_pruning for the ANN path), and the
persisted search returns bit-identical results to the in-session
``ann_ivf_cosine``."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def index_env(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "ivf_index"))
    yield str(tmp_path / "ivf_index")


def test_build_is_idempotent_and_versioned(spark, sf_dir, index_env):
    from map_reduce_go_spark.operators.ann_index import build_ivf_index

    path = build_ivf_index(spark, sf_dir)
    assert os.path.exists(os.path.join(path, "_INDEX_SUCCESS"))
    assert os.path.exists(os.path.join(path, "centroids.json"))
    # Partition layout: one cell=<id> directory per populated cell.
    cells = [
        d
        for d in os.listdir(os.path.join(path, "corpus"))
        if d.startswith("cell=")
    ]
    assert len(cells) >= 2
    # Second build: marker short-circuits (no retrain, no rewrite).
    mtime = os.stat(os.path.join(path, _marker := "_INDEX_SUCCESS")).st_mtime_ns
    assert build_ivf_index(spark, sf_dir) == path
    assert os.stat(os.path.join(path, _marker)).st_mtime_ns == mtime


def test_probe_scan_partition_prunes(spark, sf_dir, index_env):
    """The probed read must list only the NPROBE cell partitions: the
    executed plan's scan carries the cell IN (...) PartitionFilters and
    the other partitions' files are never touched."""
    from map_reduce_go_spark.operators.ann_index import (
        build_ivf_index,
        load_ivf_index,
    )

    build_ivf_index(spark, sf_dir)
    corpus, _cents = load_ivf_index(spark, sf_dir)
    probed = corpus.where(F.col("cell").isin([0, 3]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:200]
    assert "cell" in pf and ("IN" in pf or "in(" in pf.lower()), pf
    # And the filter actually restricts the data read.
    got = {r["cell"] for r in probed.select("cell").distinct().collect()}
    assert got <= {0, 3}


def test_lsh_index_prunes_to_query_buckets(spark, sf_dir, index_env):
    """The persisted LSH index's probe reads only the queries' bucket
    partitions (PartitionFilters on bucket), and the persisted search
    equals the in-session ann_lsh_cosine bit for bit."""
    from map_reduce_go_spark.operators.ann_index import (
        ann_lsh_persisted,
        build_lsh_index,
    )
    from map_reduce_go_spark.operators.similarity import ann_lsh_cosine

    path = build_lsh_index(spark, sf_dir)
    corpus = spark.read.parquet(os.path.join(path, "corpus"))
    probed = corpus.where(F.col("bucket").isin([1, 7]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters")[1][:200]

    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    a = sorted(ann_lsh_persisted(spark, sf_dir).collect(), key=key)
    b = sorted(ann_lsh_cosine(spark, sf_dir).collect(), key=key)
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert a


def test_incremental_append_no_retrain_and_idempotent(spark, sf_dir, index_env):
    """Incremental maintenance contract: appending a batch must (a) leave
    the persisted codebook byte-identical (no retrain), (b) land the
    batch in its own atomically-committed directory (base corpus files
    untouched), and (c) be a no-op on retry — a duplicate append would
    silently double every appended vector's search weight."""
    import json

    from map_reduce_go_spark.operators.ann_index import (
        INCR_MOD,
        ann_ivf_incremental_probe,
        append_to_ivf_index,
        load_ivf_index_with_batches,
        _index_root,
        _snapshot_id,
    )
    from map_reduce_go_spark.sources.readers import load_table

    rows = ann_ivf_incremental_probe(spark, sf_dir).collect()
    assert rows
    path = os.path.join(_index_root(), _snapshot_id(sf_dir) + "-incr")
    cents_before = json.load(open(os.path.join(path, "centroids.json")))
    base_files = sorted(
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(os.path.join(path, "corpus"))
        for f in fs
    )
    # Retry the same batch: marker short-circuits, nothing changes.
    emb = load_table(spark, sf_dir, "embeddings")
    newv = emb.where(F.col("vec_id") % INCR_MOD == 0)
    append_to_ivf_index(spark, path, newv, batch_id="1")
    assert json.load(open(os.path.join(path, "centroids.json"))) == cents_before
    assert base_files == sorted(
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(os.path.join(path, "corpus"))
        for f in fs
    )
    corpus, _c = load_ivf_index_with_batches(spark, path)
    # Base + batch covers the whole corpus exactly once.
    assert corpus.count() == emb.count()
    assert corpus.select("vec_id").distinct().count() == emb.count()
    # Appended vectors are reachable through the pruned search path.
    appended = {r["vec_id"] for r in newv.select("vec_id").collect()}
    found = {r["neighbor_id"] for r in rows} | {r["query_id"] for r in rows}
    assert appended & found, "no appended vector ever surfaced in the probe"


def test_persisted_search_matches_in_session_ivf(spark, sf_dir, index_env):
    """Same index semantics ⇒ same answer: the persisted-index search
    must return exactly ann_ivf_cosine's rows (both are oracle-checked
    against the same SQL, but the direct equality pins parquet roundtrip
    + partition pruning as value-neutral)."""
    from map_reduce_go_spark.operators.ann_index import ann_ivf_persisted
    from map_reduce_go_spark.operators.similarity import ann_ivf_cosine

    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    a = sorted(ann_ivf_persisted(spark, sf_dir).collect(), key=key)
    b = sorted(ann_ivf_cosine(spark, sf_dir).collect(), key=key)
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) > 0


def test_lsh_incremental_append_equals_rebuild(spark, sf_dir, index_env, tmp_path):
    """LSH maintenance twin of the IVF incremental contract: appending a
    batch against the training-free hyperplanes must (a) be idempotent
    per batch_id (the atomic batch-dir rule — a blind mode-append would
    double rows on retry), and (b) make base+batches carry EXACTLY the
    (vec_id, bucket) assignment a from-scratch rebuild over the full
    corpus would produce — the two maintenance paths cannot drift,
    because bucketing is a pure function of the vector."""
    from map_reduce_go_spark.operators.ann_index import (
        append_to_lsh_index,
        load_lsh_index_with_batches,
    )
    from map_reduce_go_spark.operators.similarity import lsh_bucket

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)

    path = str(tmp_path / "lsh_incr")
    (
        base.select(
            "vec_id", "embedding", lsh_bucket(F.col("embedding")).alias("bucket")
        )
        .repartition("bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(os.path.join(path, "corpus"))
    )
    append_to_lsh_index(spark, path, batch, "day1")
    first = os.stat(
        os.path.join(path, "batch-day1", "_SUCCESS")
    ).st_mtime_ns
    append_to_lsh_index(spark, path, batch, "day1")  # retry: no-op
    assert (
        os.stat(os.path.join(path, "batch-day1", "_SUCCESS")).st_mtime_ns == first
    )

    got = {
        (r["vec_id"], r["bucket"])
        for r in load_lsh_index_with_batches(spark, path)
        .select("vec_id", "bucket")
        .collect()
    }
    want = {
        (r["vec_id"], r["bucket"])
        for r in emb.select(
            "vec_id", lsh_bucket(F.col("embedding")).alias("bucket")
        ).collect()
    }
    assert got == want
    # one file per populated bucket per batch (the clustered-write rule)
    bdirs = [
        d
        for d in os.listdir(os.path.join(path, "batch-day1"))
        if d.startswith("bucket=")
    ]
    for d in bdirs:
        parts = [
            f
            for f in os.listdir(os.path.join(path, "batch-day1", d))
            if f.endswith(".parquet")
        ]
        assert len(parts) == 1, (d, parts)


def test_compaction_folds_batches_and_preserves_search(spark, sf_dir, index_env, tmp_path):
    """Compaction contract, both index families: after compact_index the
    batch dirs are gone, the corpus layout is one file per partition
    value, the (vec_id, partition) assignment set is exactly the
    pre-compaction base+batches set (for LSH: exactly the full-rebuild
    set), and the IVF codebook is untouched. Since the probe is a pure
    function of (assignment set, codebook), search results cannot
    change — compaction is re-clustering, never semantics."""
    from map_reduce_go_spark.operators.ann_index import (
        append_to_ivf_index,
        append_to_lsh_index,
        build_ivf_index,
        compact_index,
        load_ivf_index_with_batches,
        load_lsh_index_with_batches,
    )
    from map_reduce_go_spark.operators.similarity import lsh_bucket

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    # --- IVF: build from the full fixture, append a synthetic batch of
    # shifted ids (vec_id + 10_000_000), compact, re-check.
    ivf_path = build_ivf_index(spark, sf_dir)
    batch = emb.limit(40).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    append_to_ivf_index(spark, ivf_path, batch, "c1")
    before, cents = load_ivf_index_with_batches(spark, ivf_path)
    want_ivf = {
        (r["vec_id"], r["cell"]) for r in before.select("vec_id", "cell").collect()
    }
    assert compact_index(spark, ivf_path, "cell") == 1
    assert not [d for d in os.listdir(ivf_path) if d.startswith("batch-")]
    after, cents2 = load_ivf_index_with_batches(spark, ivf_path)
    got_ivf = {
        (r["vec_id"], r["cell"]) for r in after.select("vec_id", "cell").collect()
    }
    assert got_ivf == want_ivf
    assert cents2 == cents  # codebook untouched
    assert compact_index(spark, ivf_path, "cell") == 0  # idempotent no-op
    for d in os.listdir(os.path.join(ivf_path, "corpus")):
        if d.startswith("cell="):
            parts = [
                f
                for f in os.listdir(os.path.join(ivf_path, "corpus", d))
                if f.endswith(".parquet")
            ]
            assert len(parts) == 1, (d, parts)

    # --- LSH: base + two appended batches -> compact -> assignment set
    # equals the full rebuild.
    lsh_path = str(tmp_path / "lsh_c")
    base = emb.where(F.col("vec_id") % 3 == 0)
    (
        base.select(
            "vec_id", "embedding", lsh_bucket(F.col("embedding")).alias("bucket")
        )
        .repartition("bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(os.path.join(lsh_path, "corpus"))
    )
    append_to_lsh_index(spark, lsh_path, emb.where(F.col("vec_id") % 3 == 1), "d1")
    append_to_lsh_index(spark, lsh_path, emb.where(F.col("vec_id") % 3 == 2), "d2")
    assert compact_index(spark, lsh_path, "bucket") == 2
    got = {
        (r["vec_id"], r["bucket"])
        for r in load_lsh_index_with_batches(spark, lsh_path)
        .select("vec_id", "bucket")
        .collect()
    }
    want = {
        (r["vec_id"], r["bucket"])
        for r in emb.select(
            "vec_id", lsh_bucket(F.col("embedding")).alias("bucket")
        ).collect()
    }
    assert got == want


def test_half_committed_build_and_compaction_self_heal(spark, sf_dir, index_env, tmp_path):
    """Crash-recovery discipline (the reference's atomic-rename contract,
    applied to the index): (a) a build that crashed AFTER writing the
    corpus but BEFORE the marker must be treated as absent — the next
    build re-runs and commits; (b) a compaction that crashed after
    writing ``corpus.compact.tmp`` but before the swap leaves the live
    index untouched, and the next compaction overwrites the leftover tmp
    and completes."""
    from map_reduce_go_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        compact_index,
        load_ivf_index_with_batches,
    )

    path = build_ivf_index(spark, sf_dir)
    want = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(os.path.join(path, "corpus"))
        .select("vec_id", "cell")
        .collect()
    }

    # (a) simulate crash-before-marker: remove the marker only.
    os.remove(os.path.join(path, "_INDEX_SUCCESS"))
    assert build_ivf_index(spark, sf_dir) == path
    assert os.path.exists(os.path.join(path, "_INDEX_SUCCESS"))
    got = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(os.path.join(path, "corpus"))
        .select("vec_id", "cell")
        .collect()
    }
    assert got == want

    # (b) simulate a crashed compaction: stale tmp dir with junk, then a
    # real batch + compact must succeed and fold it.
    import pyspark.sql.functions as F2

    stale = os.path.join(path, "corpus.compact.tmp")
    os.makedirs(stale, exist_ok=True)
    with open(os.path.join(stale, "junk"), "w") as f:
        f.write("crashed mid-write")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    batch = emb.limit(10).select(
        (F2.col("vec_id") + 20_000_000).alias("vec_id"), "embedding"
    )
    append_to_ivf_index(spark, path, batch, "heal1")
    before, _ = load_ivf_index_with_batches(spark, path)
    want2 = {
        (r["vec_id"], r["cell"]) for r in before.select("vec_id", "cell").collect()
    }
    assert compact_index(spark, path, "cell") == 1
    got2 = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(os.path.join(path, "corpus"))
        .select("vec_id", "cell")
        .collect()
    }
    assert got2 == want2
    assert not os.path.exists(stale)


def test_blue_green_refresh_promotes_atomically(spark, sf_dir, index_env, tmp_path):
    """Codebook refresh contract: retraining lands in a NEW version dir,
    the LIVE pointer flips only after the version is fully written, the
    previous version stays intact (a reader that resolved it keeps
    working), and a refresh on a drifted corpus actually changes the
    codebook while cell assignments stay exhaustive."""
    from map_reduce_go_spark.operators.ann_index import (
        live_ivf_version,
        refresh_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "bg_idx")
    os.makedirs(idx)

    v1 = refresh_ivf_index(spark, idx, emb)
    assert os.path.basename(v1) == "v-1"
    corpus1, cents1 = live_ivf_version(spark, idx)
    n1 = corpus1.count()
    assert n1 == emb.count()

    # "Drifted" corpus: the lowest-id vectors (the deterministic seed
    # set) are gone -> the retrained codebook must differ; promote flips
    # to v-2.
    drifted = emb.where(F.col("vec_id") >= 3)
    v2 = refresh_ivf_index(spark, idx, drifted)
    assert os.path.basename(v2) == "v-2"
    corpus2, cents2 = live_ivf_version(spark, idx)
    assert cents2 != cents1
    assert corpus2.count() == n1 - 3
    # Old version untouched: its corpus still reads in full.
    assert spark.read.parquet(os.path.join(v1, "corpus")).count() == n1
    with open(os.path.join(idx, "LIVE")) as f:
        assert f.read().strip() == "v-2"
    # An empty corpus trains an empty codebook; promoting it would empty
    # the live index, so the refresh refuses before writing anything.
    with pytest.raises(ValueError, match="empty embeddings corpus"):
        refresh_ivf_index(spark, idx, emb.limit(0))
    assert sorted(os.listdir(idx)) == ["LIVE", "v-1", "v-2"]


def test_probe_results_identical_before_and_after_compaction(spark, sf_dir, index_env):
    """End-to-end answer-stability: run the incremental probe (base +
    appended batch through the pruned path), then COMPACT the incremental
    index and run the same search over the folded corpus — every (query,
    neighbor, sim, rank) row must be bit-identical. Maintenance jobs must
    be invisible to readers' answers, not merely to assignment sets."""
    from map_reduce_go_spark.operators.ann_index import (
        _index_root,
        _probe_index,
        _snapshot_id,
        ann_ivf_incremental_probe,
        compact_index,
    )

    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    before = sorted(
        ann_ivf_incremental_probe(spark, sf_dir).collect(), key=key
    )
    path = os.path.join(_index_root(), _snapshot_id(sf_dir) + "-incr")
    assert compact_index(spark, path, "cell") == 1  # the day's batch folded
    import json as _json

    with open(os.path.join(path, "centroids.json")) as f:
        cents = _json.load(f)
    after = sorted(
        _probe_index(
            spark, sf_dir, spark.read.parquet(os.path.join(path, "corpus")), cents
        ).collect(),
        key=key,
    )
    assert [tuple(r) for r in after] == [tuple(r) for r in before]
    assert before

def test_compaction_crash_windows_heal_exactly_once(spark, sf_dir, index_env):
    """ADVICE r10 closure, reader side re-cut per ADVICE r11: every
    compaction crash window serves exactly-once answers to READ-ONLY
    loads (which must mutate nothing — a reader may be racing a live
    compaction in another process), and the next WRITER entry point
    performs the destructive recovery:

    (a) crash AFTER the tmp->corpus swap but BEFORE cleanup (folded rows
        and the still-committed batch dirs are BOTH live, plus a
        non-empty ``corpus.old``): readers skip the manifest-folded
        batches — an appended vector is counted exactly once — while
        leaving the leftovers on disk; the next compact_index
        garbage-collects them instead of wedging on
        ``os.rename(corpus, corpus.old)``;
    (b) crash BETWEEN ``rename(corpus, old)`` and ``rename(tmp, corpus)``
        with a COMPLETE tmp (fold manifest present): readers serve the
        roll-forward VIEW without performing the rename; the next writer
        entry rolls forward for real;
    (c) the same window with an INCOMPLETE tmp (no manifest): readers
        serve the roll-back view (old corpus + unfolded batches) without
        renaming; the next compaction rolls back and redoes the fold.
    """
    import shutil

    from map_reduce_go_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        compact_index,
        load_ivf_index_with_batches,
    )

    path = build_ivf_index(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    batch = emb.limit(25).select(
        (F.col("vec_id") + 30_000_000).alias("vec_id"), "embedding"
    )
    append_to_ivf_index(spark, path, batch, "w1")
    before, _ = load_ivf_index_with_batches(spark, path)
    want = {(r["vec_id"], r["cell"]) for r in before.select("vec_id", "cell").collect()}
    # Stash the committed batch dir: the crash states below need the
    # STALE FOLDED DIR back on disk, and the append API (correctly)
    # no-ops on redelivered ids now that the ledger exists.
    stash = os.path.join(path, "stash-w1")  # non-batch-* name: invisible
    shutil.copytree(os.path.join(path, "batch-w1"), stash)  # to readers/heal
    assert compact_index(spark, path, "cell") == 1

    corpus = os.path.join(path, "corpus")
    tmp = os.path.join(path, "corpus.compact.tmp")
    old = os.path.join(path, "corpus.old")

    # --- (a) post-swap, pre-cleanup: resurrect the folded batch dir (same
    # id, same rows), the manifest naming it (cleanup had not yet run, so
    # the crash leaves the manifest LISTING the batch — a completed
    # compaction clears it), and a non-empty old.
    import json as _json

    def _write_manifest(dirpath, ids):
        from map_reduce_go_spark.operators.ann_index import _FOLD_MANIFEST

        with open(os.path.join(dirpath, _FOLD_MANIFEST), "w") as mf:
            _json.dump(ids, mf)

    shutil.copytree(stash, os.path.join(path, "batch-w1"))
    _write_manifest(corpus, ["batch-w1"])
    os.makedirs(old)
    with open(os.path.join(old, "leftover"), "w") as f:
        f.write("pre-compaction corpus the crash never deleted")
    healed, _ = load_ivf_index_with_batches(spark, path)
    got = {(r["vec_id"], r["cell"]) for r in healed.select("vec_id", "cell").collect()}
    assert got == want  # manifest-folded batch skipped: exactly once
    # Read-only contract: the reader left every leftover in place.
    assert os.path.exists(old)
    assert os.path.exists(os.path.join(path, "batch-w1"))
    assert compact_index(spark, path, "cell") == 0  # nothing unfolded; no wedge
    assert not os.path.exists(old)  # the WRITER garbage-collected it
    assert not os.path.exists(os.path.join(path, "batch-w1"))

    # --- (b) mid-swap with COMPLETE tmp: corpus renamed away, tmp is the
    # full folded tree (manifest present) -> roll forward.
    shutil.copytree(stash, os.path.join(path, "batch-w1"))  # crash kept the dir
    os.rename(corpus, tmp)
    _write_manifest(tmp, ["batch-w1"])  # tmp = the complete folded tree
    os.makedirs(old)
    with open(os.path.join(old, "leftover"), "w") as f:
        f.write("old corpus")
    # Read-only roll-FORWARD view: the complete tmp (valid manifest)
    # serves the folded answer set with no rename performed.
    fwd, _ = load_ivf_index_with_batches(spark, path)
    got = {(r["vec_id"], r["cell"]) for r in fwd.select("vec_id", "cell").collect()}
    assert got == want
    assert os.path.exists(tmp) and not os.path.exists(corpus)  # untouched
    assert build_ivf_index(spark, sf_dir) == path  # marker short-circuit heals
    assert os.path.exists(corpus) and not os.path.exists(tmp)
    rolled, _ = load_ivf_index_with_batches(spark, path)
    got = {(r["vec_id"], r["cell"]) for r in rolled.select("vec_id", "cell").collect()}
    assert got == want
    assert not os.path.exists(old) and not os.path.exists(os.path.join(path, "batch-w1"))

    # --- (c) mid-swap with INCOMPLETE tmp (no manifest): roll back, then
    # a later compaction folds the still-pending batch.
    batch2 = emb.limit(10).select(
        (F.col("vec_id") + 40_000_000).alias("vec_id"), "embedding"
    )
    append_to_ivf_index(spark, path, batch2, "w2")
    pending, _ = load_ivf_index_with_batches(spark, path)
    want2 = {(r["vec_id"], r["cell"]) for r in pending.select("vec_id", "cell").collect()}
    os.rename(corpus, old)  # crash right after the first rename...
    os.makedirs(tmp)
    with open(os.path.join(tmp, "partial"), "w") as f:
        f.write("merge job died mid-write")  # ...with an unfinished tmp
    back, _ = load_ivf_index_with_batches(spark, path)
    got2 = {(r["vec_id"], r["cell"]) for r in back.select("vec_id", "cell").collect()}
    assert got2 == want2  # roll-back VIEW + batch still unioned in
    # Read-only contract: no rename happened; the crash state persists
    # until a writer entry point runs.
    assert not os.path.exists(corpus)
    assert os.path.exists(tmp) and os.path.exists(old)
    assert compact_index(spark, path, "cell") == 1  # heals (rolls back) + redoes
    assert os.path.exists(corpus) and not os.path.exists(tmp)
    final, _ = load_ivf_index_with_batches(spark, path)
    got3 = {(r["vec_id"], r["cell"]) for r in final.select("vec_id", "cell").collect()}
    assert got3 == want2
    shutil.rmtree(path)  # leave no cross-test state on the snapshot path

def test_redelivered_batch_noops_forever_and_new_ids_land(
    spark, sf_dir, index_env, tmp_path
):
    """The committed-batch ledger contract (review finding): idempotence
    must survive compaction. A redelivered append of an already-FOLDED
    batch id (streaming restart replaying its last epoch after the fold
    deleted the batch dir) no-ops — no rewritten dir, no double count —
    while a genuinely new batch under a NEW id lands normally. Batch ids
    are never recycled by contract; the ledger is why recycling cannot
    work."""
    import json as _json
    import shutil

    from map_reduce_go_spark.operators.ann_index import (
        _LEDGER_DIR,
        append_to_ivf_index,
        build_ivf_index,
        compact_index,
        load_ivf_index_with_batches,
    )

    path = build_ivf_index(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    day1 = emb.limit(20).select(
        (F.col("vec_id") + 50_000_000).alias("vec_id"), "embedding"
    )
    append_to_ivf_index(spark, path, day1, "epoch7")
    # Ledgered at commit: one marker FILE per id (atomic, race-free adds).
    assert os.path.exists(os.path.join(path, _LEDGER_DIR, "batch-epoch7"))
    before, _ = load_ivf_index_with_batches(spark, path)
    want = {(r["vec_id"], r["cell"]) for r in before.select("vec_id", "cell").collect()}
    assert compact_index(spark, path, "cell") == 1
    assert not os.path.exists(os.path.join(path, "batch-epoch7"))

    # Redelivery of the folded epoch: MUST no-op (the pre-ledger behavior
    # was to rewrite the dir and double every vector).
    append_to_ivf_index(spark, path, day1, "epoch7")
    assert not os.path.exists(os.path.join(path, "batch-epoch7"))
    after, _ = load_ivf_index_with_batches(spark, path)
    got = {(r["vec_id"], r["cell"]) for r in after.select("vec_id", "cell").collect()}
    assert got == want  # exactly once, forever

    # A NEW batch under a NEW id lands normally.
    day2 = emb.limit(10).select(
        (F.col("vec_id") + 60_000_000).alias("vec_id"), "embedding"
    )
    append_to_ivf_index(spark, path, day2, "epoch8")
    final, _ = load_ivf_index_with_batches(spark, path)
    ids = {
        r["vec_id"]
        for r in final.where(F.col("vec_id") >= 50_000_000).select("vec_id").collect()
    }
    want_ids = {r["vec_id"] for r in day1.unionByName(day2).select("vec_id").collect()}
    assert ids == want_ids
    shutil.rmtree(path)  # leave no cross-test state on the snapshot path


def test_redelivery_into_crash_window_stays_exactly_once(spark, sf_dir, index_env):
    """The hard case the ledger exists for: compaction crashed after the
    swap (stale folded dir + manifest naming it still on disk), and the
    SAME batch is redelivered before any heal ran. The append must no-op
    — previously heal-first deleted the stale dir, the _SUCCESS guard
    missed, and the rewrite double-counted every folded vector."""
    import json as _json
    import shutil

    from map_reduce_go_spark.operators.ann_index import (
        _FOLD_MANIFEST,
        append_to_ivf_index,
        build_ivf_index,
        compact_index,
        load_ivf_index_with_batches,
    )

    path = build_ivf_index(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    batch = emb.limit(15).select(
        (F.col("vec_id") + 70_000_000).alias("vec_id"), "embedding"
    )
    append_to_ivf_index(spark, path, batch, "cycle3")
    stash = os.path.join(path, "stash-c3")
    shutil.copytree(os.path.join(path, "batch-cycle3"), stash)
    before, _ = load_ivf_index_with_batches(spark, path)
    want = {(r["vec_id"], r["cell"]) for r in before.select("vec_id", "cell").collect()}
    assert compact_index(spark, path, "cell") == 1
    # Reconstruct the post-swap pre-cleanup crash: stale folded dir back
    # on disk + manifest naming it.
    shutil.copytree(stash, os.path.join(path, "batch-cycle3"))
    with open(os.path.join(path, "corpus", _FOLD_MANIFEST), "w") as f:
        _json.dump(["batch-cycle3"], f)
    # Redelivery lands in the crash window: must stay exactly-once.
    append_to_ivf_index(spark, path, batch, "cycle3")
    got_df, _ = load_ivf_index_with_batches(spark, path)
    got = {(r["vec_id"], r["cell"]) for r in got_df.select("vec_id", "cell").collect()}
    assert got == want, "redelivered folded batch double-counted or lost"
    assert not os.path.exists(os.path.join(path, "batch-cycle3"))  # healed away
    shutil.rmtree(path)  # leave no cross-test state on the snapshot path


def test_reader_never_disturbs_concurrent_compaction(spark, sf_dir, index_env):
    """ADVICE r11 (medium): the index dir is designed for cross-session
    reuse, and a reader in one session must never delete or rename the
    tmp tree of a compaction RUNNING in another process. Model the race
    directly: live corpus present + an INCOMPLETE corpus.compact.tmp
    (the concurrent compactor is mid-write, manifest not yet written).
    A load must serve the live view and leave the tmp tree byte-for-byte
    alone — the old heal-on-load rmtree'd it, failing that compaction
    mid-swap."""
    import shutil

    from map_reduce_go_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        load_ivf_index_with_batches,
    )

    path = build_ivf_index(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    batch = emb.limit(8).select(
        (F.col("vec_id") + 80_000_000).alias("vec_id"), "embedding"
    )
    append_to_ivf_index(spark, path, batch, "live1")
    want_df, _ = load_ivf_index_with_batches(spark, path)
    want = {(r["vec_id"], r["cell"]) for r in want_df.select("vec_id", "cell").collect()}

    # "Another process" is mid-compaction: partial tmp, no manifest yet.
    tmp = os.path.join(path, "corpus.compact.tmp")
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-00000.parquet.inprogress"), "w") as f:
        f.write("concurrent compactor still writing")
    old = os.path.join(path, "corpus.old")  # not created: swap not started

    got_df, _ = load_ivf_index_with_batches(spark, path)
    got = {(r["vec_id"], r["cell"]) for r in got_df.select("vec_id", "cell").collect()}
    assert got == want  # live view, batch included exactly once
    # The reader left the in-flight compaction's state untouched.
    assert os.path.exists(os.path.join(tmp, "part-00000.parquet.inprogress"))
    assert not os.path.exists(old)
    assert os.path.exists(os.path.join(path, "batch-live1"))
    shutil.rmtree(path)  # leave no cross-test state on the snapshot path


def test_garbage_manifest_rolls_back_and_live_reads_fail_loud(
    spark, sf_dir, index_env, tmp_path
):
    """Torn-manifest durability cases: (a) a mid-swap tmp whose manifest
    is garbage is NOT rolled forward (presence is not proof) — the
    read-only load serves the corpus.old view, and the next writer
    (compact_index) restores corpus.old for real, whose batches are
    still unfolded and re-compactable; (b) a garbage manifest on a LIVE
    corpus fails loud with the repair instruction rather than guessing
    (either guess is silent corruption)."""
    import shutil

    import pytest as _pytest

    from map_reduce_go_spark.operators.ann_index import (
        _FOLD_MANIFEST,
        append_to_ivf_index,
        build_ivf_index,
        compact_index,
        load_ivf_index_with_batches,
    )

    path = build_ivf_index(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    batch = emb.limit(12).select(
        (F.col("vec_id") + 90_000_000).alias("vec_id"), "embedding"
    )
    append_to_ivf_index(spark, path, batch, "t1")
    before, _ = load_ivf_index_with_batches(spark, path)
    want = {(r["vec_id"], r["cell"]) for r in before.select("vec_id", "cell").collect()}

    corpus = os.path.join(path, "corpus")
    tmp = os.path.join(path, "corpus.compact.tmp")
    old = os.path.join(path, "corpus.old")
    # (a) mid-swap with a TORN tmp manifest: must roll BACK, not forward.
    os.rename(corpus, old)
    os.makedirs(tmp)
    with open(os.path.join(tmp, _FOLD_MANIFEST), "w") as f:
        f.write('["batch-t1"')  # truncated JSON — power loss mid-write
    back, _ = load_ivf_index_with_batches(spark, path)
    got = {(r["vec_id"], r["cell"]) for r in back.select("vec_id", "cell").collect()}
    assert got == want  # old corpus restored, batch still unioned
    assert compact_index(spark, path, "cell") == 1  # fold redone cleanly

    # (b) garbage manifest on the LIVE corpus: loud error, names the file.
    with open(os.path.join(corpus, _FOLD_MANIFEST), "w") as f:
        f.write("{not json")
    with _pytest.raises(RuntimeError, match="unreadable fold manifest"):
        load_ivf_index_with_batches(spark, path)
    shutil.rmtree(path)  # leave no cross-test state on the snapshot path

def test_version_gc_keeps_live_plus_previous(spark, sf_dir, index_env, tmp_path):
    """Corrected blue/green retention policy (review finding): the keep
    window counts PROMOTED versions only — an orphan above live must
    never eat a retention slot and get the live predecessor deleted out
    from under an in-flight reader; GC never touches versions above live
    (in-flight vs orphan is indistinguishable there); the next REFRESH
    collects the orphan under the one-refresher contract; keep<1 is an
    error, and the LIVE target survives any keep."""
    import os as _os

    import pytest as _pytest

    from map_reduce_go_spark.operators.ann_index import (
        gc_ivf_versions,
        live_ivf_version,
        refresh_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "gc_idx")
    _os.makedirs(idx)
    refresh_ivf_index(spark, idx, emb)
    refresh_ivf_index(spark, idx, emb.where(F.col("vec_id") >= 2))
    refresh_ivf_index(spark, idx, emb.where(F.col("vec_id") >= 4))
    # Simulate a crashed refresh: v-4 exists but was never promoted.
    _os.makedirs(_os.path.join(idx, "v-4", "corpus"), exist_ok=True)
    with open(_os.path.join(idx, "LIVE")) as f:
        assert f.read().strip() == "v-3"

    with _pytest.raises(ValueError):
        gc_ivf_versions(idx, keep=0)

    # keep=2 over PROMOTED history {1,2,3}: v-1 goes, the predecessor
    # v-2 stays (in-flight readers), the orphan v-4 is NOT GC'd and does
    # NOT consume a slot.
    assert gc_ivf_versions(idx) == ["v-1"]
    left = sorted(d for d in _os.listdir(idx) if d.startswith("v-"))
    assert left == ["v-2", "v-3", "v-4"]

    # keep=1: only live survives of the promoted set; orphan untouched.
    assert gc_ivf_versions(idx, keep=1) == ["v-2"]
    left = sorted(d for d in _os.listdir(idx) if d.startswith("v-"))
    assert left == ["v-3", "v-4"]
    corpus, cents = live_ivf_version(spark, idx)
    assert corpus.count() > 0 and cents

    # The next refresh collects the orphan v-4 and takes its number.
    v4 = refresh_ivf_index(spark, idx, emb.where(F.col("vec_id") >= 6))
    assert _os.path.basename(v4) == "v-4"
    with open(_os.path.join(idx, "LIVE")) as f:
        assert f.read().strip() == "v-4"
    corpus4, _ = live_ivf_version(spark, idx)
    assert corpus4.count() == emb.where(F.col("vec_id") >= 6).count()



def test_ledger_watermark_bounds_files_and_keeps_redelivery_noop(
    spark, sf_dir, index_env
):
    """VERDICT r11 #2 — the committed-batch ledger must not grow one
    marker file per epoch forever. Compaction folds each stream's
    contiguous committed-epoch prefix into a per-stream high-watermark
    file and deletes the absorbed markers; membership (and therefore
    redelivery idempotence) is unchanged:

    - after compaction the ledger holds ONE watermark file for the
      stream (plus the single ad-hoc manifest), not N epoch markers;
    - a redelivery BELOW the watermark (its marker file long gone, its
      batch dir folded away) still no-ops — exactly-once forever;
    - a NEW epoch above the watermark lands normally and is absorbed by
      the next compaction.
    """
    import shutil

    from map_reduce_go_spark.operators.ann_index import (
        _LEDGER_DIR,
        append_to_ivf_index,
        build_ivf_index,
        compact_index,
        load_ivf_index_with_batches,
    )

    path = build_ivf_index(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_epochs = 4
    for e in range(n_epochs):
        batch = emb.limit(5).select(
            (F.col("vec_id") + 100_000_000 + 1000 * e).alias("vec_id"), "embedding"
        )
        append_to_ivf_index(spark, path, batch, f"wmstream-epoch{e}")
    # One ad-hoc (non-epoch) id: must survive folding as a residual marker.
    adhoc = emb.limit(3).select(
        (F.col("vec_id") + 110_000_000).alias("vec_id"), "embedding"
    )
    append_to_ivf_index(spark, path, adhoc, "manual-backfill-day1")

    ldir = os.path.join(path, _LEDGER_DIR)
    assert len(os.listdir(ldir)) == n_epochs + 1  # unbounded shape, pre-fold
    before, _ = load_ivf_index_with_batches(spark, path)
    want = {(r["vec_id"], r["cell"]) for r in before.select("vec_id", "cell").collect()}

    assert compact_index(spark, path, "cell") == n_epochs + 1
    names = sorted(os.listdir(ldir))
    # VERDICT r12 #7: the ad-hoc id folds into the single manifest file
    # instead of leaking a residual marker forever.
    assert names == ["absorbed-adhoc", "watermark-wmstream"]
    with open(os.path.join(ldir, "watermark-wmstream")) as f:
        assert f.read().strip() == str(n_epochs - 1)
    with open(os.path.join(ldir, "absorbed-adhoc")) as f:
        assert f.read().split() == ["batch-manual-backfill-day1"]

    # Redelivery BELOW the watermark: marker file gone, batch dir folded
    # away — the watermark alone must no-op it.
    replay = emb.limit(5).select(
        (F.col("vec_id") + 100_000_000 + 1000).alias("vec_id"), "embedding"
    )
    append_to_ivf_index(spark, path, replay, "wmstream-epoch1")
    assert not os.path.exists(os.path.join(path, "batch-wmstream-epoch1"))
    after, _ = load_ivf_index_with_batches(spark, path)
    got = {(r["vec_id"], r["cell"]) for r in after.select("vec_id", "cell").collect()}
    assert got == want  # exactly once, via the watermark

    # New epoch above the watermark lands; the next compaction advances
    # the watermark and the marker count stays flat.
    nxt = emb.limit(5).select(
        (F.col("vec_id") + 120_000_000).alias("vec_id"), "embedding"
    )
    append_to_ivf_index(spark, path, nxt, f"wmstream-epoch{n_epochs}")
    assert compact_index(spark, path, "cell") == 1
    assert sorted(os.listdir(ldir)) == [
        "absorbed-adhoc",
        "watermark-wmstream",
    ]
    with open(os.path.join(ldir, "watermark-wmstream")) as f:
        assert f.read().strip() == str(n_epochs)
    # Redelivery of the ABSORBED ad-hoc id: the manifest alone must
    # no-op it (its marker file is gone).
    append_to_ivf_index(spark, path, adhoc, "manual-backfill-day1")
    assert not os.path.exists(os.path.join(path, "batch-manual-backfill-day1"))
    shutil.rmtree(path)  # leave no cross-test state on the snapshot path


def test_ledger_watermark_never_absorbs_past_a_gap(spark, sf_dir, index_env):
    """A gap in the committed-epoch sequence stops absorption: epochs
    above the gap stay as residual marker files (the safe failure mode —
    extra files, never a false 'already committed'), and a later commit
    of the missing epoch lets the next fold absorb the whole run."""
    import shutil

    from map_reduce_go_spark.operators.ann_index import (
        _LEDGER_DIR,
        _compact_ledger,
        _ledger_add,
        _ledger_contains,
    )

    path = os.path.join(os.environ["SPARK_GRAFT_INDEX_DIR"], "gap-ledger")
    os.makedirs(os.path.join(path, "corpus"), exist_ok=True)
    _ledger_add(path, {"batch-s-epoch0", "batch-s-epoch1", "batch-s-epoch3"})
    _compact_ledger(path)
    ldir = os.path.join(path, _LEDGER_DIR)
    assert sorted(os.listdir(ldir)) == ["batch-s-epoch3", "watermark-s"]
    with open(os.path.join(ldir, "watermark-s")) as f:
        assert f.read().strip() == "1"
    assert _ledger_contains(path, "batch-s-epoch0")      # absorbed
    assert _ledger_contains(path, "batch-s-epoch3")      # residual marker
    assert not _ledger_contains(path, "batch-s-epoch2")  # the gap: NOT committed
    assert not _ledger_contains(path, "batch-s-epoch4")

    # The missing epoch lands later: the next fold absorbs through it.
    _ledger_add(path, {"batch-s-epoch2"})
    _compact_ledger(path)
    assert sorted(os.listdir(ldir)) == ["watermark-s"]
    with open(os.path.join(ldir, "watermark-s")) as f:
        assert f.read().strip() == "3"
    assert _ledger_contains(path, "batch-s-epoch2")
    shutil.rmtree(path)


def test_ledger_crash_leftover_below_watermark_is_swept(index_env):
    """ADVICE r12: a crash between the watermark replace and the marker
    deletes leaves absorbed markers behind with new_w == w; the old
    short-circuit skipped deletion entirely on the next run, leaking
    them forever. Now every pass sweeps residual markers at or below
    the watermark even when the watermark does not advance."""
    import shutil

    from map_reduce_go_spark.operators.ann_index import (
        _LEDGER_DIR,
        _compact_ledger,
        _ledger_add,
        _ledger_contains,
    )

    path = os.path.join(os.environ["SPARK_GRAFT_INDEX_DIR"], "crash-sweep-ledger")
    os.makedirs(os.path.join(path, "corpus"), exist_ok=True)
    _ledger_add(path, {"batch-s-epoch0", "batch-s-epoch1"})
    _compact_ledger(path)
    ldir = os.path.join(path, _LEDGER_DIR)
    assert sorted(os.listdir(ldir)) == ["watermark-s"]
    # Reconstruct the crash leftover: an absorbed marker back on disk,
    # watermark already durable — the exact state the old `continue`
    # short-circuit made permanent.
    open(os.path.join(ldir, "batch-s-epoch0"), "w").close()
    _compact_ledger(path)  # no new epochs: new_w == w
    assert sorted(os.listdir(ldir)) == ["watermark-s"]  # swept, not leaked
    assert _ledger_contains(path, "batch-s-epoch0")  # membership intact
    shutil.rmtree(path)


def test_ledger_zero_padded_epoch_never_collapses(index_env):
    """ADVICE r12: 's-epoch01' and 's-epoch1' are DISTINCT ids. The epoch
    group is anchored to canonical unpadded decimal, so the padded form
    is never watermark-absorbable — it routes through the exact-name
    ad-hoc path, and a watermark covering epoch 1 must not report
    epoch01 as committed (that false positive silently drops a batch)."""
    import shutil

    from map_reduce_go_spark.operators.ann_index import (
        _EPOCH_MARKER_RE,
        _LEDGER_DIR,
        _compact_ledger,
        _ledger_add,
        _ledger_contains,
    )

    assert _EPOCH_MARKER_RE.match("batch-s-epoch1")
    assert not _EPOCH_MARKER_RE.match("batch-s-epoch01")

    path = os.path.join(os.environ["SPARK_GRAFT_INDEX_DIR"], "padded-epoch-ledger")
    os.makedirs(os.path.join(path, "corpus"), exist_ok=True)
    _ledger_add(path, {"batch-s-epoch0", "batch-s-epoch1"})
    _compact_ledger(path)
    # Watermark covers canonical epochs 0..1 — the padded sibling is NOT
    # committed and must not be reported as such.
    assert _ledger_contains(path, "batch-s-epoch1")
    assert not _ledger_contains(path, "batch-s-epoch01")
    # Once committed, the padded id is absorbed by the ad-hoc manifest
    # under its exact name and stays committed across compactions.
    _ledger_add(path, {"batch-s-epoch01"})
    _compact_ledger(path)
    ldir = os.path.join(path, _LEDGER_DIR)
    assert sorted(os.listdir(ldir)) == ["absorbed-adhoc", "watermark-s"]
    assert _ledger_contains(path, "batch-s-epoch01")
    assert _ledger_contains(path, "batch-s-epoch1")
    shutil.rmtree(path)


def test_ledger_many_adhoc_ids_compact_to_one_manifest(index_env):
    """VERDICT r12 #7 in anger: N ad-hoc (non-epoch) ids compact to a
    BOUNDED residual set — one manifest file — with membership and
    redelivery idempotence intact for every absorbed id, across
    repeated compactions and a second wave of ids."""
    import shutil

    from map_reduce_go_spark.operators.ann_index import (
        _LEDGER_DIR,
        _compact_ledger,
        _ledger_add,
        _ledger_contains,
    )

    path = os.path.join(os.environ["SPARK_GRAFT_INDEX_DIR"], "adhoc-ledger")
    os.makedirs(os.path.join(path, "corpus"), exist_ok=True)
    wave1 = {f"batch-backfill-2026-01-{d:02d}" for d in range(1, 21)}
    _ledger_add(path, wave1)
    ldir = os.path.join(path, _LEDGER_DIR)
    assert len(os.listdir(ldir)) == 20  # unbounded shape, pre-fold
    _compact_ledger(path)
    assert sorted(os.listdir(ldir)) == ["absorbed-adhoc"]
    assert all(_ledger_contains(path, i) for i in wave1)
    # _ledger_add of an absorbed id no-ops (no marker file reappears).
    _ledger_add(path, {"batch-backfill-2026-01-05"})
    assert sorted(os.listdir(ldir)) == ["absorbed-adhoc"]
    # A second wave merges into the same single manifest.
    wave2 = {f"batch-backfill-2026-02-{d:02d}" for d in range(1, 11)}
    _ledger_add(path, wave2)
    _compact_ledger(path)
    assert sorted(os.listdir(ldir)) == ["absorbed-adhoc"]
    assert all(_ledger_contains(path, i) for i in wave1 | wave2)
    with open(os.path.join(ldir, "absorbed-adhoc")) as f:
        assert f.read().split() == sorted(wave1 | wave2)
    shutil.rmtree(path)
