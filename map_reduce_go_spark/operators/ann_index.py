"""Persisted, partition-pruned IVF index — the production ANN shape.

Every in-session ANN query (`ann_ivf_cosine` and friends in
:mod:`operators.similarity`) rebuilds its index per session, memoized
in-process only. This module is the 100 TB shape SCALE.md promises:

- ``build_ivf_index`` TRAINS the coarse quantizer once per corpus
  snapshot, writes the cell-assigned corpus ``partitionBy("cell")`` to
  disk, and persists the centroid codebook next to it. The index is
  versioned by corpus snapshot (path + parquet mtime), NOT by session —
  a fresh session reuses a valid on-disk index instead of retraining.
- ``ann_ivf_persisted`` answers a probe by reading ONLY the NPROBE cell
  partitions per query (static partition pruning: the probe-cell set is
  bounded index metadata, so the filter is a literal ``cell IN (...)``
  the scan prunes on — `tests/test_plan_audit.py` asserts the
  PartitionFilters). Search semantics are identical to
  ``ann_ivf_cosine``, so it shares that query's DuckDB oracle.

At 100 TB: the build is a one-off batch job (scan → assign → write,
embarrassingly parallel, one shuffle on ``cell`` for file clustering);
each query then touches NPROBE/K of the corpus bytes. The codebook
(K×dim floats) is driver/broadcast metadata by design.

Reference anchor: the reference engine (src/mr/coordinator.go,
worker.go) has no ANN surface — this family is part of the
training-data-pipeline extension the build mandates.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_go_spark.functions.caching import fixture_stamp, tracked_cache
from map_reduce_go_spark.operators.similarity import (
    N_QUERIES,
    NPROBE,
    TOP_K,
    _LSH_ORACLE,
    _ivf_oracle_sql,
    _nearest_cells,
    cosine_udf,
    ivf_centroids_for,
    ivf_train_centroids,
    lsh_bucket,
    top_k,
)
from map_reduce_go_spark.registry import register
from map_reduce_go_spark.sources.readers import load_table

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_MARKER = "_INDEX_SUCCESS"


def _index_root() -> str:
    return os.environ.get(
        "SPARK_GRAFT_INDEX_DIR", os.path.join(_REPO, "spark-warehouse", "ivf_index")
    )


def _snapshot_id(sf_dir: str) -> str:
    """Corpus snapshot id: resolved path + newest mtime of the embeddings
    parquet tree. A regenerated fixture at the same path gets a NEW index
    directory instead of serving the previous corpus's cells (the
    on-disk analog of fixture_key's mtime component; at 100 TB this is
    the corpus snapshot/commit id the index is versioned by)."""
    root, newest = fixture_stamp(sf_dir, "embeddings")
    return hashlib.md5(f"{root}|{newest}".encode()).hexdigest()[:16]


def _read_corpus(spark: SparkSession, path: str, part: str = "cell") -> DataFrame:
    """A persisted corpus (or batch) read with its known schema — the
    embeddings table's columns plus the int partition column — not by
    inference, so the index of an empty corpus (no data files) reads
    back as 0 rows."""
    return spark.read.schema(
        f"vec_id bigint, embedding array<float>, {part} int"
    ).parquet(path)


def ivf_index_path(sf_dir: str) -> str:
    return os.path.join(_index_root(), _snapshot_id(sf_dir))


def build_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Idempotent build: train centroids, assign cells, write the corpus
    ``partitionBy("cell")`` plus the codebook JSON, then commit with a
    marker file. Returns the index directory. A later call for the same
    corpus snapshot returns immediately (marker present)."""
    path = ivf_index_path(sf_dir)
    if os.path.exists(os.path.join(path, _MARKER)):
        _heal_index(path)  # finish any crashed compaction swap first
        return path
    emb = load_table(spark, sf_dir, "embeddings").transform(tracked_cache)
    _write_index(emb, ivf_centroids_for(sf_dir, emb), path)
    with open(os.path.join(path, _MARKER), "w") as f:
        f.write(_snapshot_id(sf_dir))
    return path


def _write_cells(vectors: DataFrame, centroids: list[list[float]], out: str) -> None:
    """Assign each (vec_id, embedding) its nearest cell and write them
    ``partitionBy("cell")`` to ``out``, replacing what is there."""
    (
        vectors.select(
            "vec_id",
            "embedding",
            _nearest_cells(F.col("embedding"), centroids, 1)[0].alias("cell"),
        )
        # repartition on the partition column first: ONE file per cell
        # instead of (write-tasks x cells) shard fragments — at scale the
        # small-files explosion, not the data bytes, dominates an
        # un-clustered partitionBy write. Skewed cells would salt this
        # into ceil(cell_rows/target) files per cell; one is right here.
        .repartition("cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(out)
    )


def _write_index(vectors: DataFrame, centroids: list[list[float]], path: str) -> None:
    """An index directory: the cell-assigned corpus under ``corpus/``,
    then the codebook committed by tmp+rename so a crashed build never
    half-commits (the kv_text sink's atomic-commit idiom; reference
    test-mr.sh's crash tolerance is the same contract)."""
    _write_cells(vectors, centroids, os.path.join(path, "corpus"))
    tmp = os.path.join(path, "centroids.json.tmp")
    with open(tmp, "w") as f:
        json.dump(centroids, f)
    os.replace(tmp, os.path.join(path, "centroids.json"))


def load_ivf_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list[list[float]]]:
    """(cell-partitioned corpus DataFrame, centroid codebook) for the
    current corpus snapshot, building the index if absent."""
    path = build_ivf_index(spark, sf_dir)
    with open(os.path.join(path, "centroids.json")) as f:
        centroids = json.load(f)
    return _read_corpus(spark, os.path.join(path, "corpus")), centroids


def _probe_index(
    spark: SparkSession, sf_dir: str, corpus: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """Shared NPROBE search over a loaded cell-partitioned corpus: collect
    the bounded probe-cell set, prune the scan to those partitions, score
    with the broadcast query side, rank top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(_nearest_cells(F.col("embedding"), centroids, NPROBE)).alias("qcell"),
    )
    probed = sorted(
        {int(r["qcell"]) for r in q.select("qcell").distinct().collect()}
    )
    corpus = corpus.where(F.col("cell").isin(probed)).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("v_emb"), "cell"
    )
    scored = corpus.join(
        F.broadcast(q),
        (corpus.cell == q.qcell) & (F.col("neighbor_id") != F.col("query_id")),
    ).select(
        "query_id",
        "neighbor_id",
        cosine_udf(F.col("q_emb"), F.col("v_emb")).alias("raw_sim"),
    )
    return top_k(scored, TOP_K)


@register("ann_ivf_persisted", oracle=_ivf_oracle_sql())
def ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the PERSISTED index: identical search semantics (and
    oracle) to ``ann_ivf_cosine``, but the corpus side is the on-disk
    cell-partitioned parquet and the scan reads ONLY the probed cells —
    the union of the queries' NPROBE nearest cells, collected as bounded
    index metadata (≤ N_QUERIES×NPROBE ints) into a literal IN filter
    that partition-prunes at the file listing, before any row is read.

    At 100 TB with K=4096 cells and NPROBE=8, a probe touches ~0.2% of
    the corpus bytes; the build cost is amortized across every query
    against the snapshot instead of re-paid per session."""
    corpus, centroids = load_ivf_index(spark, sf_dir)
    return _probe_index(spark, sf_dir, corpus, centroids)


# --------------------------------------------------------------------------
# Persisted LSH index: bucket-partitioned corpus, training-free
# --------------------------------------------------------------------------


def build_lsh_index(spark: SparkSession, sf_dir: str) -> str:
    """Persisted random-hyperplane LSH index: corpus written
    ``partitionBy("bucket")`` (the SCALE.md promise for the LSH path).
    Training-free — the hyperplanes are deterministic md5-derived
    constants, so there is no codebook to persist and nothing to drift;
    the index is pure data layout. Same snapshot versioning and marker
    commit as the IVF build."""
    path = os.path.join(_index_root(), _snapshot_id(sf_dir) + "-lsh")
    if os.path.exists(os.path.join(path, _MARKER)):
        _heal_index(path)  # finish any crashed compaction swap first
        return path
    emb = load_table(spark, sf_dir, "embeddings")
    (
        emb.select("vec_id", "embedding", lsh_bucket(F.col("embedding")).alias("bucket"))
        # One file per bucket (see build_ivf_index): cluster the write by
        # the partition column before partitionBy.
        .repartition("bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(os.path.join(path, "corpus"))
    )
    with open(os.path.join(path, _MARKER), "w") as f:
        f.write(_snapshot_id(sf_dir))
    return path


@register("ann_lsh_persisted", oracle=_LSH_ORACLE)
def ann_lsh_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN over the PERSISTED bucket-partitioned index: identical
    semantics (and oracle) to ``ann_lsh_cosine``, but candidates come
    from reading ONLY the queries' bucket partitions — with sign-pattern
    buckets a query probes exactly ONE bucket, so the scan prunes to
    ≤ N_QUERIES partitions out of 2^N_HYPERPLANES (= 256 at this repo's
    8 hyperplanes; see operators/similarity.py::N_HYPERPLANES). The sharpest
    partition-pruning ratio in the repo: at 100 TB with 16 planes a
    probe reads ~2^-16 of the corpus bytes per bucket."""
    path = build_lsh_index(spark, sf_dir)
    corpus = _read_corpus(spark, os.path.join(path, "corpus"), "bucket")
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        lsh_bucket(F.col("embedding")).alias("q_bucket"),
    )
    probed = sorted(
        {int(r["q_bucket"]) for r in q.select("q_bucket").distinct().collect()}
    )
    corpus = corpus.where(F.col("bucket").isin(probed)).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("v_emb"),
        "bucket",
    )
    scored = corpus.join(
        F.broadcast(q),
        (corpus.bucket == q.q_bucket) & (F.col("neighbor_id") != F.col("query_id")),
    ).select(
        "query_id",
        "neighbor_id",
        cosine_udf(F.col("q_emb"), F.col("v_emb")).alias("raw_sim"),
    )
    return top_k(scored, TOP_K)


def append_to_lsh_index(
    spark: SparkSession, path: str, new_vectors: DataFrame, batch_id: str
) -> None:
    """LSH twin of :func:`append_to_ivf_index` — the maintenance story
    holds for BOTH index families: new vectors are bucketed by the same
    deterministic hyperplanes (training-free, so there is not even a
    codebook-staleness question) into their own atomically-committed
    ``batch-<id>/`` directory. Idempotent per batch_id FOREVER — the
    dir's _SUCCESS guards the pre-fold window and the committed-batch
    ledger guards after compaction deletes the dir, so a streaming
    restart replaying an already-folded epoch still no-ops instead of
    double-counting. Corollary: batch ids must never be recycled for
    new data (epochs/dates are naturally monotonic) — a recycled id is
    indistinguishable from a redelivery and is skipped."""
    _heal_index(path)
    batch_dir = os.path.join(path, f"batch-{batch_id}")
    if _ledger_contains(path, f"batch-{batch_id}"):
        return  # ever-committed (marker or watermark): this is a redelivery
    if os.path.exists(os.path.join(batch_dir, "_SUCCESS")):
        _ledger_add(path, {f"batch-{batch_id}"})  # backfill pre-ledger commit
        return
    (
        new_vectors.select(
            "vec_id", "embedding", lsh_bucket(F.col("embedding")).alias("bucket")
        )
        .repartition("bucket")  # one file per bucket per batch
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(batch_dir)
    )
    _ledger_add(path, {f"batch-{batch_id}"})


def load_lsh_index_with_batches(spark: SparkSession, path: str) -> DataFrame:
    """Base LSH corpus + every committed UNFOLDED batch (unionByName;
    each scan keeps its own bucket partition pruning). STRICTLY
    READ-ONLY (ADVICE r11): the crash state is resolved by
    :func:`_resolve_corpus` without touching disk, and manifest-folded
    batches are skipped — an appended vector is counted exactly once in
    every crash state, while a compaction running in another process is
    never disturbed. Destructive recovery belongs to writer entry points."""
    corpus_dir = _resolve_corpus(path)
    corpus = _read_corpus(spark, corpus_dir, "bucket")
    for b in _committed_batches(path, corpus_dir):
        corpus = corpus.unionByName(_read_corpus(spark, b, "bucket"))
    return corpus


#: Written into the compacted corpus as the LAST step before the swap:
#: its presence marks the tmp tree complete, and its contents name the
#: batch directories this fold subsumed — readers and later compactions
#: skip (and garbage-collect) manifest-listed batches, so a crash that
#: leaves both the folded corpus and the original batch dirs live can
#: never double-count a vector. Underscore-prefixed, so Spark's parquet
#: scan ignores it like ``_SUCCESS``.
_FOLD_MANIFEST = "_FOLDED_BATCHES.json"


def _read_manifest(mpath: str) -> list[str] | None:
    """Parse a fold manifest; None when absent OR unreadable/garbage.
    Presence alone is never trusted — the swap decision and the folded-id
    set both require a VALID parse."""
    if not os.path.exists(mpath):
        return None
    try:
        with open(mpath) as f:
            ids = json.load(f)
    except (ValueError, OSError):
        return None
    # Type-check, not just parse-check: corruption that happens to parse
    # as a JSON string would iterate into characters (bogus "folded ids"
    # that roll an incomplete tree forward), and a scalar would raise an
    # undesigned TypeError out of every entry point.
    if not isinstance(ids, list) or not all(isinstance(x, str) for x in ids):
        return None
    return ids


def _resolve_corpus(path: str) -> str:
    """READ-ONLY resolution of the effective corpus tree in every
    compaction crash state — the reader-side twin of :func:`_heal_index`
    that mutates nothing (ADVICE r11: a reader's heal could rmtree/rename
    the tmp tree of a compaction running in ANOTHER process; readers have
    no business doing destructive cleanup, and they don't need it —
    exactly-once counting comes from the manifest skip alone):

    - live ``corpus`` present: that's the corpus (a concurrent
      compaction's tmp/old trees are ignored, not deleted);
    - mid-swap, tmp COMPLETE (valid fold manifest — written last, so a
      valid parse proves completeness): read the tmp tree as the corpus
      (the roll-forward view, without performing the rename);
    - mid-swap, tmp incomplete but ``corpus.old`` present: read the old
      tree (the roll-back view — its batches are still unfolded and the
      caller unions them in).

    The destructive recovery (renames, folded-dir GC, manifest clear)
    still happens, exactly once, at the next WRITER entry point
    (build_* / append_to_* / compact_index / refresh), which are
    single-writer by contract."""
    corpus = os.path.join(path, "corpus")
    if os.path.exists(corpus):
        return corpus
    tmp = os.path.join(path, "corpus.compact.tmp")
    if _read_manifest(os.path.join(tmp, _FOLD_MANIFEST)) is not None:
        return tmp
    old = os.path.join(path, "corpus.old")
    if os.path.exists(old):
        return old
    raise FileNotFoundError(
        f"no readable corpus under {path}: not built, or every recovery "
        "source (corpus / complete corpus.compact.tmp / corpus.old) is "
        "missing — rebuild the index from its builder."
    )


def _folded_ids(path: str, corpus_dir: str | None = None) -> set[str]:
    """Batch-dir basenames the (resolved) corpus's fold manifest records
    as already merged in (empty when the corpus was never compacted).

    A present-but-unparseable manifest is a LOUD error: without it we
    cannot know which batch dirs are folded, and guessing either way is
    silent corruption (skipping none double-counts; skipping all drops
    real appends). Practically unreachable — the manifest is fsynced
    before the swap renames — but if storage ever serves a torn file,
    failing with the repair instruction beats wrong answers (the
    connected-components loud-failure discipline)."""
    m = os.path.join(corpus_dir or os.path.join(path, "corpus"), _FOLD_MANIFEST)
    if not os.path.exists(m):
        return set()
    ids = _read_manifest(m)
    if ids is None:
        raise RuntimeError(
            f"unreadable fold manifest {m}: cannot tell folded batches from "
            "live ones. Repair: if the corpus is known to contain every "
            "batch dir's rows, delete those batch dirs and rewrite the "
            "manifest as []; otherwise restore the index from its builder."
        )
    return set(ids)


def _committed_batches(path: str, corpus_dir: str | None = None) -> list[str]:
    """Committed ``batch-*`` dirs that are NOT already folded into the
    (resolved) corpus per its manifest — the only batches readers may
    union in. Pass the :func:`_resolve_corpus` result so the folded set
    matches the tree actually being read (the tmp tree's manifest in the
    roll-forward view; the old tree's in the roll-back view)."""
    import glob as _glob

    folded = _folded_ids(path, corpus_dir)
    return [
        b
        for b in sorted(_glob.glob(os.path.join(path, "batch-*")))
        if os.path.exists(os.path.join(b, "_SUCCESS"))
        and os.path.basename(b) not in folded
    ]


def _write_manifest_fsync(mpath: str, ids: list[str]) -> None:
    """tmp-write + fsync + atomic replace: the manifest's contents must be
    durable BEFORE any rename that depends on them becomes durable (a
    power loss must never surface a present-but-torn manifest)."""
    mt = mpath + ".tmp"
    with open(mt, "w") as f:
        json.dump(ids, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(mt, mpath)


#: Index-root ledger DIRECTORY of every batch id EVER committed: one
#: empty marker file per id (entry at append commit, re-asserted before
#: any folded dir is deleted). The idempotence guard that survives
#: compaction: a batch dir's _SUCCESS disappears when the fold's cleanup
#: runs, but a redelivered append (streaming restart replaying its last
#: foreachBatch epoch) must still no-op — without the ledger it would
#: rewrite the batch and double every vector the fold already merged.
#: One FILE per id, not one JSON list: adds are single atomic creates
#: with nothing to read-modify-write, so a reader's heal re-asserting
#: folded ids can never lose a concurrent appender's fresh entry (and
#: there is no parseable state to corrupt). Corollary contract: batch
#: ids are NEVER recycled — and because a fresh streaming checkpoint
#: restarts epoch numbering at 0, foreachBatch callers must NAMESPACE
#: the id by the stream's identity, e.g. ``f"{app_id}-{epoch}"`` (the
#: same (txnAppId, txnVersion) key Delta's idempotent writes use).
#: BOUNDED (VERDICT r11 #2): "never forgets" no longer means "one file
#: per epoch forever" — compaction folds each stream's contiguous
#: committed-epoch prefix into a per-stream HIGH-WATERMARK file
#: (``watermark-<stream>`` holding the largest epoch N such that every
#: epoch 0..N is committed), then deletes the absorbed marker files.
#: Membership = residual marker present OR epoch <= stream watermark,
#: so redelivery idempotence is unchanged while the ledger's file count
#: stays O(streams + uncompacted epochs) instead of O(epochs ever) —
#: ~526k marker files/year at 1 epoch/min otherwise, with a directory
#: listing on every append. Ids that don't match the ``<stream>-epoch<n>``
#: shape (ad-hoc dates, test ids) fold into the single sorted
#: ``absorbed-adhoc`` manifest at compaction (VERDICT r12 #7) — exact-
#: name membership survives, and the boundedness contract is code, not
#: prose.
_LEDGER_DIR = "committed-batches"

#: Marker-file shape a watermark can absorb: ``batch-<stream>-epoch<n>``
#: (the stream-scoped id contract foreachBatch callers follow). The
#: epoch group is anchored to CANONICAL unpadded decimal (``0`` or
#: ``[1-9]\d*``): a zero-padded tail like ``-epoch01`` is a distinct id
#: from ``-epoch1`` and must never collapse into the same watermark
#: slot, or an uncommitted batch could be falsely reported committed
#: and silently dropped (ADVICE r12). Non-canonical ids simply fall
#: through to the ad-hoc path below — exact-name semantics, no false
#: positives.
_EPOCH_MARKER_RE = re.compile(r"^batch-(.+)-epoch(0|[1-9]\d*)$")
_WATERMARK_PREFIX = "watermark-"

#: Single manifest file absorbing AD-HOC marker ids (anything not
#: matching :data:`_EPOCH_MARKER_RE` — date-shaped manual backfills,
#: test ids). VERDICT r12 #7: these previously stayed one file each
#: forever, exempting exactly the ids humans create by hand from the
#: bounded-ledger story. Compaction folds them into this newline-
#: separated sorted manifest (fsync + atomic replace BEFORE the
#: absorbed markers are deleted — same durability order as the
#: watermarks), so membership survives and the ledger's file count is
#: O(streams + uncompacted epochs + 1). Only the single compaction
#: writer ever rewrites it; concurrent appenders create marker FILES,
#: which a later compaction absorbs — no read-modify-write race.
_ADHOC_MANIFEST = "absorbed-adhoc"


def _ledger_adhoc_absorbed(path: str) -> set[str]:
    """Ad-hoc ids already folded into the manifest (empty when never
    compacted or no ad-hoc ids existed)."""
    mf = os.path.join(path, _LEDGER_DIR, _ADHOC_MANIFEST)
    if not os.path.exists(mf):
        return set()
    with open(mf) as fh:
        return {line.strip() for line in fh if line.strip()}


def _ledger_watermarks(path: str) -> dict[str, int]:
    """stream -> highest absorbed epoch, from the per-stream watermark
    files (empty when the ledger was never compacted)."""
    ldir = os.path.join(path, _LEDGER_DIR)
    if not os.path.isdir(ldir):
        return {}
    out: dict[str, int] = {}
    for f in os.listdir(ldir):
        if not f.startswith(_WATERMARK_PREFIX):
            continue
        with open(os.path.join(ldir, f)) as fh:
            txt = fh.read().strip()
        if not txt.isdigit():
            raise RuntimeError(
                f"corrupt ledger watermark {os.path.join(ldir, f)!r}: "
                f"expected a non-negative integer, got {txt!r} — the "
                "absorbed-epoch bound is unknown; restore the file or "
                "rebuild the index."
            )
        out[f[len(_WATERMARK_PREFIX):]] = int(txt)
    return out


def _ledger_contains(path: str, marker: str) -> bool:
    """Has this batch id EVER been committed? True if its residual marker
    file exists, its stream's watermark has absorbed its epoch, or the
    ad-hoc manifest has absorbed it."""
    if os.path.exists(os.path.join(path, _LEDGER_DIR, marker)):
        return True
    m = _EPOCH_MARKER_RE.match(marker)
    if m:
        return int(m.group(2)) <= _ledger_watermarks(path).get(m.group(1), -1)
    return marker in _ledger_adhoc_absorbed(path)


def _compact_ledger(path: str) -> None:
    """Fold each stream's contiguous committed-epoch prefix into its
    high-watermark file, then delete the absorbed markers — run at
    compaction (writer-only, like every destructive step). Durability
    order mirrors the fold manifest: the advanced watermark is fsynced
    and atomically replaced BEFORE any absorbed marker is deleted, so a
    crash between the two leaves both records (membership still
    correct), never neither. Contiguity starts at epoch 0 (fresh
    checkpoints restart numbering there) or at the existing watermark;
    a gap stops absorption — the markers above it stay residual files,
    which is the safe failure mode (extra files, never a false
    'already committed'). Ad-hoc ids (non-epoch shapes) fold into the
    single :data:`_ADHOC_MANIFEST` file under the same durability
    order, so manual-backfill markers no longer leak one file each
    (VERDICT r12 #7)."""
    ldir = os.path.join(path, _LEDGER_DIR)
    if not os.path.isdir(ldir):
        return
    epochs: dict[str, set[int]] = {}
    adhoc: set[str] = set()
    for f in os.listdir(ldir):
        if f.startswith(_WATERMARK_PREFIX) or f == _ADHOC_MANIFEST or f.endswith(".tmp"):
            continue
        m = _EPOCH_MARKER_RE.match(f)
        if m:
            epochs.setdefault(m.group(1), set()).add(int(m.group(2)))
        else:
            adhoc.add(f)
    marks = _ledger_watermarks(path)
    for stream, present in epochs.items():
        w = marks.get(stream, -1)
        new_w = w
        while new_w + 1 in present:
            new_w += 1
        if new_w > w:
            wpath = os.path.join(ldir, _WATERMARK_PREFIX + stream)
            wt = wpath + ".tmp"
            with open(wt, "w") as fh:
                fh.write(str(new_w))
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(wt, wpath)
        # Sweep EVERY residual marker at or below the (possibly
        # unchanged) watermark, not just the newly-absorbed range: a
        # crash between a previous run's watermark replace and its
        # marker deletes leaves absorbed markers behind with
        # new_w == w, and the old `continue` short-circuit made that
        # leak permanent (ADVICE r12). Membership is already covered
        # by the durable watermark, so deletion is always safe here.
        for e in sorted(present):
            if e <= new_w:
                try:
                    os.remove(os.path.join(ldir, f"batch-{stream}-epoch{e}"))
                except FileNotFoundError:
                    pass  # a previous crash already removed it
    if adhoc:
        # Manifest rewrite BEFORE marker deletes (crash leaves both —
        # membership still correct, never neither).
        merged = sorted(_ledger_adhoc_absorbed(path) | adhoc)
        mpath = os.path.join(ldir, _ADHOC_MANIFEST)
        mt = mpath + ".tmp"
        with open(mt, "w") as fh:
            fh.write("\n".join(merged) + "\n")
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(mt, mpath)
        for f in adhoc:
            try:
                os.remove(os.path.join(ldir, f))
            except FileNotFoundError:
                pass  # a previous crash already removed it


def _ledger_add(path: str, ids: set[str]) -> None:
    """Record ids as ever-committed: one atomic marker-file create per
    id, fsynced (the entry must be durable BEFORE any action that
    depends on it — deleting a folded dir, or skipping a redelivered
    append). Append-only and race-free by construction: concurrent
    adders touch disjoint files."""
    if not ids:
        return
    ldir = os.path.join(path, _LEDGER_DIR)
    os.makedirs(ldir, exist_ok=True)
    for i in ids:
        fp = os.path.join(ldir, i)
        if os.path.exists(fp) or _ledger_contains(path, i):
            continue  # marker present, or already absorbed by a watermark
        with open(fp, "w") as f:
            f.flush()
            os.fsync(f.fileno())


def _heal_index(path: str) -> None:
    """Deterministic recovery for every compaction crash window (ADVICE
    r10): run by every WRITER entry point (build_* / append_to_* /
    compact_index / refresh) — single-writer by contract, so the
    destructive cleanup below can never race another process's
    compaction. Readers never call this (ADVICE r11): load_* paths
    resolve crash states read-only via :func:`_resolve_corpus`, so no
    session ever serves a missing, half-swapped, or double-counting
    tree either way.

    - Crash between ``rename(corpus, corpus.old)`` and
      ``rename(tmp, corpus)``: no live corpus. If the tmp tree carries
      the fold manifest (written last — its presence proves the tree is
      complete) roll FORWARD by finishing the rename; otherwise roll
      BACK by restoring ``corpus.old``. Either way a corpus is live
      again before any read, closing the window where ``_INDEX_SUCCESS``
      marked a corpus-less index valid.
    - Crash after the swap but before cleanup: the new corpus is live
      while its folded ``batch-*`` dirs and ``corpus.old`` still exist.
      The manifest names exactly which batches are garbage — delete
      them and the old corpus; a stale incomplete tmp is deleted too.
      Readers double-skip via :func:`_committed_batches`, so even a
      heal that itself crashes mid-cleanup cannot double-count.
    """
    import shutil

    corpus = os.path.join(path, "corpus")
    tmp = os.path.join(path, "corpus.compact.tmp")
    old = os.path.join(path, "corpus.old")
    if not os.path.exists(corpus):
        # Roll forward only on a VALID manifest (a torn/garbage file is
        # not proof of completeness — prefer rolling back to the old
        # corpus, whose batches are still unfolded and re-compactable).
        if _read_manifest(os.path.join(tmp, _FOLD_MANIFEST)) is not None:
            os.rename(tmp, corpus)  # roll forward: tmp is complete
        elif os.path.exists(old):
            os.rename(old, corpus)  # roll back: tmp never completed
    if not os.path.exists(corpus):
        return  # index never built; nothing to heal
    folded = _folded_ids(path)
    # Invariant: a batch dir is only deleted AFTER its id is in the
    # committed-batch ledger — else a redelivered append of a folded
    # batch would rewrite it and double-count.
    _ledger_add(path, folded)
    for b in folded:
        bdir = os.path.join(path, b)
        if os.path.exists(bdir):
            shutil.rmtree(bdir)
    for stale in (old, tmp):
        if os.path.exists(stale):
            shutil.rmtree(stale)
    # Every manifest-listed dir is now confirmed gone — CLEAR the manifest
    # (atomic replace). The manifest is a crash-window artifact: once its
    # dirs are deleted (and their ids are in the committed-batch ledger,
    # which is what actually guards redeliveries forever), keeping the
    # list around is pure staleness. Crash ordering is safe both ways:
    # dirs-deleted + manifest-still-listing = readers skip nothing (the
    # dirs are gone); the reverse order can't happen because the clear
    # runs strictly after the deletes.
    m = os.path.join(path, "corpus", _FOLD_MANIFEST)
    if os.path.exists(m) and _folded_ids(path):
        _write_manifest_fsync(m, [])


def compact_index(spark: SparkSession, path: str, part_col: str) -> int:
    """Fold every committed ``batch-*`` directory into the base corpus —
    the lifecycle step that keeps incremental maintenance bounded: an
    index that only ever appends degrades linearly in file count, scan
    unions, and listing cost, so production compacts on a cadence (the
    LSM-tree / Delta OPTIMIZE discipline applied to the vector index).

    NO retrain, NO re-assignment: rows already carry their cell/bucket,
    so compaction is a pure re-cluster — read base + batches, one
    shuffle on the partition column, write ONE file per partition.
    Crash-safe end to end (ADVICE r10 closed both swap windows): the
    merged corpus lands in ``corpus.compact.tmp``; the fold manifest
    (:data:`_FOLD_MANIFEST`, naming the batches folded) is written into
    the tmp tree LAST, so its presence proves completeness; then the
    swap runs (rename corpus away, rename tmp in, delete folded batches
    + old corpus). A crash at ANY point is recovered by
    :func:`_heal_index` — before the swap the live corpus is untouched;
    mid-swap the manifest decides roll-forward vs roll-back; after the
    swap the manifest names the garbage batches so readers skip them
    and heal deletes them. There is no manual-recovery state and no
    window where a reader can double-count an appended vector. Returns
    the number of batch directories folded in; 0 when there are no
    unfolded committed batches.
    """
    import shutil

    _heal_index(path)
    batches = _committed_batches(path)
    if not batches:
        return 0
    merged = _read_corpus(spark, os.path.join(path, "corpus"), part_col)
    for b in batches:
        merged = merged.unionByName(_read_corpus(spark, b, part_col))
    tmp = os.path.join(path, "corpus.compact.tmp")
    (
        merged.repartition(part_col)  # one file per partition value
        .write.partitionBy(part_col)
        .mode("overwrite")
        .parquet(tmp)
    )
    # Manifest last: marks the tmp tree complete AND records which batch
    # dirs the new corpus subsumes (readers skip these from now on).
    # fsynced: its contents must be durable before the swap renames are.
    _write_manifest_fsync(
        os.path.join(tmp, _FOLD_MANIFEST),
        sorted(os.path.basename(b) for b in batches),
    )
    old = os.path.join(path, "corpus.old")
    os.rename(os.path.join(path, "corpus"), old)
    os.rename(tmp, os.path.join(path, "corpus"))
    # Ledger before delete (see _heal_index's invariant).
    _ledger_add(path, {os.path.basename(b) for b in batches})
    for b in batches:
        shutil.rmtree(b)
    shutil.rmtree(old)
    # Cleanup succeeded: heal clears the now-satisfied manifest — pure
    # stale-bookkeeping removal (the committed-batch ledger, not the
    # manifest, is the permanent redelivery guard; batch ids are never
    # recycled, per the append_to_* contract).
    _heal_index(path)
    # Fold the ledger itself (VERDICT r11 #2): absorb each stream's
    # contiguous committed-epoch prefix into its high-watermark file so
    # marker-file count stays bounded by compaction cadence, not by
    # epochs-ever.
    _compact_ledger(path)
    return len(batches)


# --------------------------------------------------------------------------
# Blue/green codebook refresh: retrain into a NEW version, atomic promote
# --------------------------------------------------------------------------

_LIVE_POINTER = "LIVE"


def refresh_ivf_index(spark: SparkSession, index_dir: str, emb: DataFrame) -> str:
    """Full codebook REFRESH as a blue/green deployment: when drift
    metrics (psi_doclen_drift's analog on the embedding space) say the
    frozen quantizer has aged out, retrain + reassign into a NEW
    versioned directory (``v-<n+1>/``) while the live version keeps
    serving, then promote atomically via the tmp+rename of a one-line
    pointer file. Readers resolve ``live_ivf_version`` at query start;
    an in-flight probe keeps reading the version it resolved — nothing
    is ever rewritten in place, and a crashed refresh leaves a garbage
    ``v-*`` directory but never a broken live index. This is the
    lifecycle step compaction cannot do: compaction preserves the
    codebook, refresh replaces it. An empty ``emb`` trains an empty
    codebook, and promoting it would empty the live index, so it raises
    ValueError before touching the index."""
    import shutil

    centroids = ivf_train_centroids(emb)
    if not centroids:
        raise ValueError("refresh_ivf_index: empty embeddings corpus")
    live_n = (
        _live_version_number(index_dir) if os.path.isdir(index_dir) else None
    ) or 0
    if os.path.isdir(index_dir):
        # Collect a crashed refresh's orphans: any v-dir NEWER than the
        # live version was never promoted, so under the one-refresher
        # contract it is garbage from a refresh that died mid-write.
        # Deleting it here (not in GC, which cannot tell an orphan from
        # an in-flight build) also keeps version numbers collision-free.
        for n in _version_numbers(index_dir):
            if n > live_n:
                shutil.rmtree(os.path.join(index_dir, f"v-{n}"))
    nxt = os.path.join(index_dir, f"v-{live_n + 1}")
    _write_index(emb, centroids, nxt)
    # Atomic promote: the pointer flip IS the deployment.
    ptr_tmp = os.path.join(index_dir, _LIVE_POINTER + ".tmp")
    with open(ptr_tmp, "w") as f:
        f.write(os.path.basename(nxt))
    os.replace(ptr_tmp, os.path.join(index_dir, _LIVE_POINTER))
    return nxt


def _live_version_number(index_dir: str) -> int | None:
    """Parse the LIVE pointer to its version number; None when nothing
    has ever been promoted; loud error on a corrupt pointer (guessing a
    live version is how a GC deletes the wrong tree)."""
    ptr = os.path.join(index_dir, _LIVE_POINTER)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        live = f.read().strip()
    if not (live.startswith("v-") and live.split("-", 1)[1].isdigit()):
        raise RuntimeError(
            f"corrupt LIVE pointer in {index_dir}: {live!r}. Repair: write "
            "the intended version directory name (e.g. 'v-3') to the file."
        )
    return int(live.split("-", 1)[1])


def _version_numbers(index_dir: str) -> list[int]:
    return sorted(
        int(d.split("-", 1)[1])
        for d in os.listdir(index_dir)
        if d.startswith("v-") and d.split("-", 1)[1].isdigit()
    )


def gc_ivf_versions(index_dir: str, keep: int = 2) -> list[str]:
    """Retire old blue/green versions. Retention policy, in order:

    - the LIVE version is never deleted;
    - versions NEWER than live are never deleted by GC — a dir above the
      live version is either a refresh in flight or a crashed refresh's
      orphan, and GC cannot tell those apart (``refresh_ivf_index``
      itself collects orphans above live before it starts, under the
      one-refresher-at-a-time contract — same single-writer assumption
      as compaction);
    - of the PROMOTED history (live and older), the newest ``keep`` are
      retained: ``keep=2`` holds live + its immediate predecessor, which
      an in-flight probe that resolved the pointer just before a promote
      may still be scanning. Everything older is unreachable.

    Counting the keep window over promoted versions only (not raw
    version numbers) is the point: an orphan above live must never eat a
    retention slot and get the live predecessor deleted out from under a
    reader. Raises on ``keep < 1``; returns the deleted dir names."""
    import shutil

    if keep < 1:
        raise ValueError(f"keep must be >= 1, got {keep}")
    if not os.path.isdir(index_dir):
        return []
    live_n = _live_version_number(index_dir)
    if live_n is None:
        return []  # nothing promoted: every version is a build in flight
    promoted = [n for n in _version_numbers(index_dir) if n <= live_n]
    retained = set(promoted[-keep:]) | {live_n}
    doomed = [f"v-{n}" for n in promoted if n not in retained]
    for d in doomed:
        shutil.rmtree(os.path.join(index_dir, d))
    return doomed


def live_ivf_version(spark: SparkSession, index_dir: str) -> tuple[DataFrame, list[list[float]]]:
    """Resolve the LIVE pointer and load that version's corpus+codebook.
    Pointer parsing goes through the validating helper, so a corrupt
    pointer fails with the same repair-instruction error on the read
    path as on refresh/GC."""
    live_n = _live_version_number(index_dir)
    if live_n is None:
        raise FileNotFoundError(f"no LIVE pointer in {index_dir}")
    base = os.path.join(index_dir, f"v-{live_n}")
    with open(os.path.join(base, "centroids.json")) as f:
        centroids = json.load(f)
    return _read_corpus(spark, os.path.join(base, "corpus")), centroids


# --------------------------------------------------------------------------
# Incremental index maintenance: append a batch WITHOUT retraining
# --------------------------------------------------------------------------

#: Incremental split: vectors with vec_id % INCR_MOD == 0 arrive as
#: "today's batch"; the rest are the base corpus the quantizer trained on.
INCR_MOD = 5


def append_to_ivf_index(
    spark: SparkSession, path: str, new_vectors: DataFrame, batch_id: str
) -> None:
    """Append a vector batch to an existing index WITHOUT retraining: the
    persisted codebook assigns cells, the batch lands in its OWN
    cell-partitioned directory (``batch-<id>/``) committed atomically by
    the parquet job — so a retried append replaces nothing and a crashed
    one leaves no partial state (no blind ``mode("append")`` into the
    base corpus, which a retry would duplicate). Readers union the base
    corpus with every committed batch; cell pruning applies to each scan.
    Idempotent per batch_id FOREVER — the dir's _SUCCESS guards the
    pre-fold window and the committed-batch ledger guards after
    compaction deletes the dir, so a streaming restart replaying an
    already-folded epoch still no-ops instead of double-counting.
    Corollary: batch ids must never be recycled for new data
    (epochs/dates are naturally monotonic) — a recycled id is
    indistinguishable from a redelivery and is skipped."""
    _heal_index(path)
    batch_dir = os.path.join(path, f"batch-{batch_id}")
    if _ledger_contains(path, f"batch-{batch_id}"):
        return  # ever-committed (marker or watermark): this is a redelivery
    if os.path.exists(os.path.join(batch_dir, "_SUCCESS")):
        _ledger_add(path, {f"batch-{batch_id}"})  # backfill pre-ledger commit
        return
    with open(os.path.join(path, "centroids.json")) as f:
        centroids = json.load(f)
    if not centroids:  # an empty codebook has no cell to assign into
        new_vectors = new_vectors.limit(0)
    _write_cells(new_vectors, centroids, batch_dir)
    _ledger_add(path, {f"batch-{batch_id}"})


def load_ivf_index_with_batches(
    spark: SparkSession, path: str
) -> tuple[DataFrame, list[list[float]]]:
    """Read base corpus + every committed UNFOLDED incremental batch
    (unionByName; each scan keeps its own partition pruning). STRICTLY
    READ-ONLY (ADVICE r11): crash states are served via
    :func:`_resolve_corpus` + the manifest skip — exactly-once counting
    of appended vectors in every crash state, with zero mutation, so a
    reader can never break a compaction running in another process.
    Destructive recovery runs at the next writer entry point."""
    corpus_dir = _resolve_corpus(path)
    with open(os.path.join(path, "centroids.json")) as f:
        centroids = json.load(f)
    corpus = _read_corpus(spark, corpus_dir)
    for b in _committed_batches(path, corpus_dir):
        corpus = corpus.unionByName(_read_corpus(spark, b))
    return corpus, centroids


@register(
    "ann_ivf_incremental_probe",
    oracle=_ivf_oracle_sql(
        train_rel=f"(SELECT * FROM embeddings WHERE vec_id % {INCR_MOD} <> 0)"
    ),
)
def ann_ivf_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance end to end: the quantizer trains on
    the BASE corpus only (vec_id % INCR_MOD != 0 — "yesterday's"
    snapshot), today's batch is appended by cell assignment against the
    frozen codebook (no retrain, no base rewrite), and the probe searches
    base + batch through the same partition-pruned path. The oracle
    replays exactly this: seeds/Lloyd means over the base relation, cell
    assignment over ALL vectors — so the driver value-hashes the full
    maintenance cycle, not just the search.

    At 100 TB this is the daily-ingest shape: train rarely, assign+append
    per batch (embarrassingly parallel, one small job), re-train only
    when drift metrics (see psi_doclen_drift) say the codebook aged out."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = os.path.join(_index_root(), _snapshot_id(sf_dir) + "-incr")
    if not os.path.exists(os.path.join(path, _MARKER)):
        base = emb.where(F.col("vec_id") % INCR_MOD != 0).transform(tracked_cache)
        _write_index(base, ivf_train_centroids(base), path)
        with open(os.path.join(path, _MARKER), "w") as f:
            f.write(_snapshot_id(sf_dir))
    append_to_ivf_index(
        spark, path, emb.where(F.col("vec_id") % INCR_MOD == 0), batch_id="1"
    )
    corpus, centroids = load_ivf_index_with_batches(spark, path)
    return _probe_index(spark, sf_dir, corpus, centroids)
