"""Similarity search over the embeddings table (array<float>, 64-dim).

- brute-force cosine top-k: the correctness baseline. Query set broadcast,
  pairs scored by an Arrow-vectorized numpy kernel, ranked per query with
  a bounded window.
- LSH-bucketed ANN: random-hyperplane sign buckets; candidates only from
  matching buckets.
- IVF ANN: trained coarse-quantizer cells + nprobe search — the 100 TB
  scale path. Recall vs brute force is a first-class oracle-backed query
  (ann_ivf_recall_probe) and is additionally asserted in tests.

The numeric contract lives in :mod:`functions.vectors`: the fold
kernels ``seq_dot``/``seq_outer`` (numpy float64 in DIMENSION order) and
the oracle's SQL fold, so scores, cells, buckets and codes are
bit-identical to DuckDB. Every batch kernel here is an Arrow pandas_udf
over those folds: unrolled 64-term JVM expressions breach Janino's 64 KB
method limit as soon as a few combine, and interpreted
zip_with/aggregate is ~100x slower. On top of them, one copy each of:
- the trainer, :func:`_lloyd_codebooks`: K lowest-vec_id seeds plus one
  Lloyd step with exact scaled-long means, behind both the IVF
  quantizer and the PQ codebooks;
- the per-fixture memo step (``caching.fixture_memo``);
- the top-k tail, :func:`top_k`, and its oracle twin :func:`_topk_sql`;
- the PQ ADC-table build, :func:`_pq_adc_table`.

Scale notes:
- brute force is O(N_queries × N_vectors): fine for a broadcast query set
  (the pattern: score a small probe set against the corpus). Full all-pairs
  at 100 TB needs the LSH/IVF path (or the blocked GEMM of
  operators/dedup.py::dedup_embedding_cosine for exhaustive pairing).
- hyperplanes/centroids are derived deterministically (md5 seeds), so the
  plan is reproducible across runs and engines with no RNG state.
- an empty corpus trains an empty codebook, and every query returns 0
  rows, as the oracle does.
"""

from __future__ import annotations

import math as _math
from decimal import Decimal

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_go_spark.functions.caching import (
    fixture_memo,
    register_memo,
    tracked_cache,
)
from map_reduce_go_spark.functions.hashing import md5_int, md5_int_py, md5_int_sql
from map_reduce_go_spark.functions.vectors import DIM as _DIM
from map_reduce_go_spark.functions.vectors import cos_sql, dot_sql, fold_sql, seq_dot, seq_outer
from map_reduce_go_spark.registry import register
from map_reduce_go_spark.sources.readers import load_table

N_QUERIES = 5
TOP_K = 3


def _mat(s: pd.Series) -> "np.ndarray":
    return np.vstack(s.to_numpy()).astype(np.float64)


def cosine_udf(a: Column, b: Column, dims: int = _DIM) -> Column:
    """Arrow-vectorized cosine over the first ``dims`` dimensions for
    pair-join hot paths: a tiny plan expression, a numpy float64 kernel
    per batch, ``seq_dot`` folds for bit-exact oracle parity."""

    @F.pandas_udf("double")
    def _cos(ea: pd.Series, eb: pd.Series) -> pd.Series:
        ma, mb = _mat(ea)[:, :dims], _mat(eb)[:, :dims]
        return pd.Series(
            seq_dot(ma, mb) / (np.sqrt(seq_dot(ma, ma)) * np.sqrt(seq_dot(mb, mb)))
        )

    return _cos(a, b)


def dot_udf(a: Column, b: Column) -> Column:
    """Arrow-vectorized raw inner product (no normalization) under the
    same fold, so MIPS rankings are bit-identical to the oracle."""

    @F.pandas_udf("double")
    def _dot(ea: pd.Series, eb: pd.Series) -> pd.Series:
        return pd.Series(seq_dot(_mat(ea), _mat(eb)))

    return _dot(a, b)


def top_k(
    scored: DataFrame, k: int, score: str = "raw_sim", out: str = "sim", asc: bool = False
) -> DataFrame:
    """Each query's first ``k`` candidates by ``score`` (descending unless
    ``asc``; ties to the lower neighbor_id) as (query_id, neighbor_id,
    ``out`` = score rounded to 6 places, rank)."""
    order = F.asc(score) if asc else F.desc(score)
    w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col(score).cast("double"), 6).alias(out),
            "rank",
        )
    )


def _cell_score_sql(e: str, c: str) -> str:
    """IVF cell score dot(e, c) / ||c||, as :func:`_nearest_cells` ranks."""
    return f"{dot_sql(e, c)} / sqrt({dot_sql(c, c)})"


def _topk_sql(pairs: str, k: int = TOP_K) -> str:
    """Top-k cosine oracle over ``pairs`` (a FROM/WHERE clause binding the
    probe ``q`` and candidate ``v``): the SQL twin of :func:`top_k`."""
    score = cos_sql("q.embedding", "v.embedding")
    return f"""
    SELECT query_id, neighbor_id, round(raw_sim, 6) AS sim, rank FROM (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             {score} AS raw_sim,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {score} DESC,
                        v.vec_id) AS rank
      {pairs}
    ) t WHERE rank <= {k}
    """


_BF_ORACLE = _topk_sql(
    f"""FROM embeddings q JOIN embeddings v ON v.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}"""
)


@register("knn_bruteforce_cosine", oracle=_BF_ORACLE)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for a probe set of queries.

    The query side is broadcast (BroadcastNestedLoopJoin over N_QUERIES
    rows); scoring is the Arrow-vectorized cosine kernel (cosine_udf).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    v = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("v_emb"))
    scored = (
        v.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_udf(F.col("q_emb"), F.col("v_emb")).alias("raw_sim"),
        )
    )
    return top_k(scored, TOP_K)


N_HYPERPLANES = 8


def _hyperplane(j: int) -> list[float]:
    """Deterministic pseudo-random hyperplane j: component d derived from
    md5(f"h{j}|{d}") mapped to [-1, 1]. Same values every run, everywhere."""
    return [md5_int_py(f"h{j}|{d}") / float(0xFFFFFFFF) * 2.0 - 1.0 for d in range(_DIM)]


def lsh_bucket(emb: Column) -> Column:
    """Sign-pattern bucket id (0..2^N_HYPERPLANES-1) for an embedding.

    8 hyperplane dots = 8×64 terms, over the codegen budget as one JVM
    expression, so this is an Arrow-vectorized pandas_udf. The plane dots
    are one ``seq_outer`` (not BLAS matmul, whose pairwise summation
    can flip the sign of a near-zero dot), so the bucket ids are
    bit-identical to the oracle's left-nested SQL sum. Deterministic
    (fixed md5-derived planes)."""
    planes = np.asarray(
        [_hyperplane(j) for j in range(N_HYPERPLANES)], dtype=np.float64
    )  # (8, 64)
    bits = np.int64(1) << np.arange(N_HYPERPLANES, dtype=np.int64)

    @F.pandas_udf("int")
    def _bucket(e: pd.Series) -> pd.Series:
        signs = seq_outer(_mat(e), planes) > 0  # (B, 8)
        return pd.Series((signs @ bits).astype("int32"))

    return _bucket(emb)


def _lsh_bucket_sql(prefix: str = "") -> str:
    """The bucket id as DuckDB SQL, term-for-term the same arithmetic as
    the pandas kernel: left-nested Σ embedding[d]·plane[j][d] per plane
    (sequential float64, identical rounding), then sign-bit packing. The
    512 plane constants are inlined as shortest-round-trip literals, which
    parse back to the exact same doubles."""
    parts = []
    for j in range(N_HYPERPLANES):
        plane = _hyperplane(j)
        dot = " + ".join(
            f"CAST({prefix}embedding[{d + 1}] AS DOUBLE) * ({plane[d]!r})"
            for d in range(_DIM)
        )
        parts.append(f"CASE WHEN ({dot}) > 0 THEN {1 << j} ELSE 0 END")
    return " + ".join(parts)


_LSH_ORACLE = f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, ({_lsh_bucket_sql()}) AS bucket FROM embeddings
    )""" + _topk_sql(
    f"""FROM bucketed q
      JOIN bucketed v ON v.bucket = q.bucket AND v.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}"""
)


@register("ann_lsh_cosine", oracle=_LSH_ORACLE)
def ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH: score only vectors in the query's
    bucket. The hyperplanes are deterministic md5-derived constants and
    the sign arithmetic is dimension-sequential float64 on both engines,
    so the oracle recomputes the exact same buckets, candidates, and
    top-k in SQL. Recall vs brute force is asserted in tests/test_llm_ops.py.

    At 100 TB the corpus is written bucketed/partitioned by `bucket` so a
    query touches one partition (partition pruning on the scan).
    """
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", lsh_bucket(F.col("embedding"))
    )
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
    )
    v = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("v_emb"),
        "bucket",
    )
    scored = (
        v.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine_udf(F.col("q_emb"), F.col("v_emb")).alias("raw_sim"),
        )
    )
    return top_k(scored, TOP_K)


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantizer cells + nprobe search
# --------------------------------------------------------------------------

K_CELLS = 16
NPROBE = 4


def _nearest_cells(emb: Column, centroids: list[list[float]], n: int) -> Column:
    """Array of the n nearest centroid ids by cosine (descending).

    Ranking uses dot(emb, c) / ||c||: the row's own norm is a positive
    common factor across all K cells, so dropping it cannot change the
    ranking. K×64 dot terms breach the codegen budget as one JVM
    expression, so the scoring is an Arrow-batched pandas_udf: one
    ``seq_outer`` over all K cells, with the norm divided out AFTER
    the fold — the exact association order of the oracle's
    list_sum(...)/sqrt(list_sum(...)) SQL, so cell assignment is
    bit-reproducible cross-engine (a BLAS matmul against pre-normalized
    centroids is not). Ties break to the lower cell id (stable sort)."""
    c = np.asarray(centroids, dtype=np.float64).reshape(-1, _DIM)  # (K, 64)
    norms = np.sqrt(seq_dot(c, c))

    @F.pandas_udf("array<int>")
    def _cells(e: pd.Series) -> pd.Series:
        scores = seq_outer(_mat(e), c) / norms  # (B, K)
        idx = np.argsort(-scores, kind="stable", axis=1)[:, :n]
        return pd.Series(list(idx.astype("int32")))

    return _cells(emb)


def _lloyd_codebooks(emb: DataFrame, k: int, width: int, assign) -> list[list[list[float]]]:
    """One codebook per ``width``-dim slice of the embedding, trained by K
    deterministic seeds plus one distributed Lloyd step: the IVF coarse
    quantizer is the one 64-dim slice, the PQ codebooks are M_SUB slices.

    Seeds are the slices of the ``k`` lowest vec_ids PRESENT (not
    ``vec_id < k``): sparse ids still yield k seeds, and a corpus smaller
    than k gets one cell per vector; an empty corpus gets empty
    codebooks. ``assign(seeds)`` returns ``(sub, cell, v)``: every slice
    with its subspace and its nearest seed. The per-(sub, cell) means are
    one groupBy pass of native aggregates (codegen, map-side partials).
    Only index metadata is collected: k seed rows, then one row per
    (sub, cell). Cells that capture no vectors keep their seed.

    The sums are EXACT, so every mean is the same to the bit on any
    partitioning and engine, which is what lets the DuckDB oracle replay
    the build. Each component is rounded HALF_UP at scale 8 by the
    decimal(18,8) cast (the oracle's CAST), then ×1e8 makes it an integer,
    so the sum buffers are primitive longs, not Decimal objects. The
    unscale runs on the collected rows with Python Decimal, whose
    division by 10^8 rounds exactly like Spark's decimal→double cast,
    then the same double division by count. Each sum is one SQL string,
    not a chain of Column calls: PySpark records a call site per Column
    call (Py4J round trips plus a stack walk), which made the 64 IVF sums
    cost more driver time than the job.

    Overflow bound: Spark sums longs with silent wraparound outside ANSI
    mode, and |component| <= ~1 means each row adds <= ~1e8 to a sum, so
    the int64 range (~9.2e18) caps a (sub, cell) group at ~9.2e10 rows.
    The 100 TB design point is ~6e9 rows per IVF cell at K=16 (~15×
    margin); corpora beyond that must widen the buffer (decimal(38,0))
    or add cells."""
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    seeds = [
        [[float(x) for x in r["embedding"][s * width : (s + 1) * width]] for r in rows]
        for s in range(_DIM // width)
    ]
    if not rows:
        return seeds
    sums = [
        F.expr(f"sum(CAST(CAST(v[{i}] AS DECIMAL(18,8)) * 100000000 AS BIGINT)) AS s{i}")
        for i in range(width)
    ]
    means = (
        assign(seeds)
        .groupBy("sub", "cell")
        .agg(F.count(F.lit(1)).alias("c"), *sums)
        .collect()
    )
    refined = {
        (r["sub"], r["cell"]): [
            float(Decimal(r[f"s{i}"]) / Decimal(10**8)) / r["c"] for i in range(width)
        ]
        for r in means
    }
    return [
        [refined.get((s, c), seed) for c, seed in enumerate(book)]
        for s, book in enumerate(seeds)
    ]


def ivf_train_centroids(emb: DataFrame) -> list[list[float]]:
    """Train the coarse quantizer: K_CELLS seeds + one Lloyd step
    (:func:`_lloyd_codebooks` over the whole embedding). The collects
    move K×dim = 1024 floats of *index metadata* to the driver — the IVF
    codebook is broadcast state by design, the data plane is never
    collected. At 100 TB: same plan, a larger sample feeding more Lloyd
    iterations."""

    def assign(seeds):
        return emb.select(
            F.lit(0).alias("sub"),
            _nearest_cells(F.col("embedding"), seeds[0], 1)[0].alias("cell"),
            F.col("embedding").alias("v"),
        )

    return _lloyd_codebooks(emb, K_CELLS, _DIM, assign)[0]


_CENTROID_CACHE: dict[tuple, list[list[float]]] = register_memo({})


def ivf_centroids_for(sf_dir: str, emb: DataFrame) -> list[list[float]]:
    """Deterministic IVF codebook for a fixture dir, trained at most once
    per fixture snapshot (:func:`fixture_memo`). Several queries share the
    build (ann_ivf_cosine, semdedup_prune, ann_ivf_recall_probe — which
    runs the search twice); without the memo each invocation re-paid the
    two training jobs (seed collect + Lloyd means). The build is fully
    deterministic, so the memo returns bit-identical centroids and cannot
    perturb oracle parity. At 100 TB the analog is persisting the trained
    codebook next to the index."""
    return fixture_memo(
        _CENTROID_CACHE, emb.sparkSession, sf_dir, "embeddings",
        lambda: ivf_train_centroids(emb),
    )


def _lloyd_sql(v: str, dims: int) -> tuple[str, str]:
    """(mean columns, centroid components) of the oracle's Lloyd step over
    ``dims``-wide vectors ``v``: exact decimal means per component, and a
    cell with no members keeps its seed ``s.{v}``."""
    means = ", ".join(
        f"CAST(SUM(CAST({v}[{i + 1}] AS DECIMAL(18,8))) AS DOUBLE) / count(*) AS m{i}"
        for i in range(dims)
    )
    cents = ", ".join(
        f"COALESCE(m.m{i}, CAST(s.{v}[{i + 1}] AS DOUBLE))" for i in range(dims)
    )
    return means, cents


def _ivf_build_ctes(
    train_rel: str = "embeddings", corpus_rel: str = "embeddings"
) -> str:
    """DuckDB replay of the IVF index BUILD as a CTE chain ending in
    ``corpus(vec_id, embedding, cell)``: deterministic seeds (K lowest
    vec_ids), one Lloyd step with exact decimal means, cell assignment by
    sequential-fold dot/norm (identical association order to the pandas
    kernel). Every float op is order-matched, so any oracle using these
    CTEs sees the same index bit-for-bit. Shared by the IVF-search and
    SemDedup oracles. ``train_rel``/``corpus_rel`` parametrize WHICH
    relation trains the quantizer vs which is assigned into cells (the
    incremental-index oracle trains on yesterday's base, assigns all)."""
    mean_cols, cent_list = _lloyd_sql("embedding", _DIM)
    return f"""seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding
      FROM (SELECT vec_id, embedding FROM {train_rel} ORDER BY vec_id LIMIT {K_CELLS}) t
    ),
    assign0 AS (
      SELECT e.vec_id, e.embedding, s.cell,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY {_cell_score_sql("e.embedding", "s.embedding")} DESC, s.cell) AS rk
      FROM {train_rel} e CROSS JOIN seeds s
    ),
    means AS (
      SELECT cell, {mean_cols}
      FROM assign0 WHERE rk = 1 GROUP BY cell
    ),
    cents AS (
      SELECT s.cell, list_value({cent_list}) AS c
      FROM seeds s LEFT JOIN means m ON m.cell = s.cell
    ),
    corpus AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cell_score_sql("e.embedding", "c.c")} DESC, c.cell) AS rk
        FROM {corpus_rel} e CROSS JOIN cents c
      ) WHERE rk = 1
    )"""


def _probe_sql(cols: str = "vec_id, embedding") -> str:
    """``probe``: each of the N_QUERIES probes with its NPROBE best cells."""
    return f"""probe AS (
      SELECT {cols}, cell FROM (
        SELECT e.*, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cell_score_sql("e.embedding", "c.c")} DESC, c.cell) AS rk
        FROM embeddings e CROSS JOIN cents c
        WHERE e.vec_id < {N_QUERIES}
      ) WHERE rk <= {NPROBE}
    )"""


def _ivf_oracle_sql(
    train_rel: str = "embeddings", corpus_rel: str = "embeddings"
) -> str:
    """IVF search oracle: the shared index-build CTEs plus NPROBE probing
    and top-k cosine ranking. Probes always come from the full
    ``embeddings`` table; ``train_rel`` narrows what trains the quantizer
    (incremental-index oracle)."""
    return f"""
    WITH {_ivf_build_ctes(train_rel, corpus_rel)},
    {_probe_sql()}""" + _topk_sql(
        "FROM probe q JOIN corpus v ON v.cell = q.cell AND v.vec_id <> q.vec_id"
    )


@register("ann_ivf_cosine", oracle=_ivf_oracle_sql())
def ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: corpus vectors assigned to their nearest centroid cell;
    each query scores only vectors in its NPROBE nearest cells. The whole
    index build is deterministic and order-matched cross-engine (see
    _ivf_oracle_sql), so the driver value-hashes it like any relational
    query; sims on returned pairs + recall vs brute force are additionally
    asserted in tests/test_llm_ops.py.

    At 100 TB: corpus written partitioned by `cell` (partition pruning
    turns a query into NPROBE partition scans); the query→cell fanout is a
    broadcast join on the tiny probe set.

    The embeddings table feeds FOUR branches (seed collect, Lloyd means,
    corpus assignment, probe selection) — cached once so the build+search
    does one parquet scan, not four. Spark's CacheManager dedupes by plan,
    so repeated invocations share one entry. At 100 TB the analog is
    persisting the cell-assigned corpus (written partitioned by cell),
    never re-deriving it per query.
    """
    emb = load_table(spark, sf_dir, "embeddings").transform(tracked_cache)
    centroids = ivf_centroids_for(sf_dir, emb)
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("v_emb"),
        _nearest_cells(F.col("embedding"), centroids, 1)[0].alias("cell"),
    )
    q = (
        emb.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.explode(
                _nearest_cells(F.col("embedding"), centroids, NPROBE)
            ).alias("cell"),
        )
    )
    scored = (
        corpus.join(
            F.broadcast(q),
            (corpus.cell == q.cell) & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine_udf(F.col("q_emb"), F.col("v_emb")).alias("raw_sim"),
        )
    )
    return top_k(scored, TOP_K)


@register(
    "embedding_centroids",
    oracle="""
    SELECT label,
           count(*) AS n_vectors,
           round(CAST(SUM(CAST(embedding[1] AS DECIMAL(18,8))) AS DOUBLE) / count(*), 6)
             AS centroid_d0,
           round(CAST(SUM(CAST(embedding[64] AS DECIMAL(18,8))) AS DOUBLE) / count(*), 6)
             AS centroid_d63
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components (first/last dim shown) — the reduce
    step of IVF index construction. Decimal sums keep both engines exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    cnt = F.count(F.lit(1))

    def comp(i: int) -> Column:
        return F.round(
            F.sum(F.col("embedding")[i].cast("decimal(18,8)")).cast("double") / cnt, 6
        )

    return emb.groupBy("label").agg(
        cnt.alias("n_vectors"),
        comp(0).alias("centroid_d0"),
        comp(63).alias("centroid_d63"),
    )


# --------------------------------------------------------------------------
# SemDedup: semantic dedup by cluster-then-prune over the IVF cells
# --------------------------------------------------------------------------

SEMDEDUP_SIM = 0.4  # within-cell cosine prune threshold


@register(
    "semdedup_prune",
    oracle=f"""
    WITH {_ivf_build_ctes()},
    pruned AS (
      SELECT DISTINCT b.vec_id
      FROM corpus a JOIN corpus b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {cos_sql("a.embedding", "b.embedding")} >= {SEMDEDUP_SIM}
    )
    SELECT c.vec_id, c.cell,
           CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END AS pruned
    FROM corpus c LEFT JOIN pruned p ON p.vec_id = c.vec_id
    """,
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup-style semantic pruning (Abbas et al. 2023): cluster the
    corpus with the deterministic IVF coarse quantizer, then WITHIN each
    cell mark a vector pruned if some lower-id vector in the same cell is
    cosine-similar above the threshold. Keeps one representative per tight
    semantic group without ever comparing across clusters.

    This is the scale story for semantic dedup at 100 TB: the quadratic
    surface is Σ cell_size² (bounded by the quantizer's K knob), not N² —
    the same contraction LSH banding gives exact dedup. The cell self-join
    shuffles on `cell` only; scoring is the Arrow cosine kernel; the
    index build is the shared deterministic Lloyd pass, so the oracle
    replays the entire pipeline bit-for-bit in SQL.

    emb is cached (seed collect + Lloyd means + cell assignment = three
    consumers, one scan).

    r17 (guide §4.2 / §2.3): the within-cell scoring is ONE
    ``groupBy(cell).applyInPandas`` kernel instead of the old
    cell-self-join → cosine-UDF-filter → distinct → corpus left join.
    The old plan materialized every within-cell PAIR as a row (each
    carrying two 64-float arrays) through the Python boundary, then paid
    a distinct and a join to attach flags; the kernel ships each vector
    ONCE per cell group, enumerates pairs as numpy index blocks, and
    emits the flags directly — pairs never exist as Spark rows, and two
    shuffles (distinct + flag join) disappear. Scoring is bit-identical:
    the block's ``seq_outer`` adds in dimension order, the exact
    float-add order of cosine_udf's ``seq_dot`` per pair; NaN scores
    (zero-norm vectors) do NOT prune, matching the old form (the pandas-UDF NaN surfaced as
    NULL, so Spark's filter dropped the pair — as does the oracle's
    0/0 = NULL in DuckDB; pinned by test vs the join form). Parallelism
    is one task per cell — K is the scale knob, same as the pair join,
    whose own shuffle keyed on the same 16 cell values.
    """
    emb = load_table(spark, sf_dir, "embeddings").transform(tracked_cache)
    centroids = ivf_centroids_for(sf_dir, emb)
    corpus = emb.select(
        "vec_id",
        "embedding",
        _nearest_cells(F.col("embedding"), centroids, 1)[0].alias("cell"),
    )
    return corpus.groupBy("cell").applyInPandas(
        _semdedup_cell_kernel, "vec_id bigint, cell int, pruned int"
    )


#: Pair-enumeration block edge for the within-cell kernel: bounds the
#: temporary (B×B) sim matrix at ~32 MB float64 regardless of cell size.
_SEMDEDUP_BLOCK = 2048


def _semdedup_cell_kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
    """One cell's prune flags: pruned[j] = 1 iff some lower-vec_id vector
    in the cell has cosine >= SEMDEDUP_SIM with j (a NaN score never
    prunes — see the NaN note in the block loop)."""
    ids = pdf["vec_id"].to_numpy()
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    n = len(ids)
    flag = np.zeros(n, dtype=bool)
    if n > 1:
        x = _mat(pdf["embedding"])[order]
        norms = np.sqrt(seq_dot(x, x))
        b = _SEMDEDUP_BLOCK
        with np.errstate(divide="ignore", invalid="ignore"):
            for j0 in range(0, n, b):
                j1 = min(n, j0 + b)
                xj, nj = x[j0:j1], norms[j0:j1]
                for i0 in range(0, j1, b):
                    i1 = min(j1, i0 + b)
                    sims = seq_outer(x[i0:i1], xj) / np.outer(
                        norms[i0:i1], nj
                    )
                    # NaN (zero-norm vector) is NOT a hit: the old
                    # pandas-UDF form surfaced NaN as NULL in Spark (and
                    # the oracle's 0/0 is NULL in DuckDB), so the filter
                    # dropped those pairs; numpy's NaN >= T == False
                    # reproduces that exactly.
                    hit = sims >= SEMDEDUP_SIM
                    if i0 == j0:  # diagonal block: keep i < j only
                        hit &= np.tri(i1 - i0, j1 - j0, -1, dtype=bool).T
                    # (blocks stride identically, so any non-diagonal
                    # i-block lies fully below the j-block: all valid)
                    flag[j0:j1] |= hit.any(axis=0)
    return pd.DataFrame(
        {
            "vec_id": ids,
            "cell": np.full(n, pdf["cell"].iloc[0] if n else 0, dtype="int32"),
            "pruned": flag.astype("int32"),
        }
    )


# --------------------------------------------------------------------------
# Embedding hygiene audit: norms, zeros, non-finite values
# --------------------------------------------------------------------------


@register(
    "embedding_quality_audit",
    oracle=f"""
    SELECT vec_id,
           len(embedding) AS dim,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
           len(list_filter(embedding, x -> x = 0)) AS n_zero,
           len(list_filter(embedding, x -> isnan(x) OR isinf(x))) AS n_nonfinite
    FROM embeddings
    """,
)
def embedding_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table hygiene: per-vector dimensionality, L2 norm, zero
    count, and non-finite (NaN/Inf) count — the audit that runs before any
    ANN index build at scale (a handful of NaN vectors silently poisons
    IVF centroid training).

    One Arrow-batched pandas UDF per row batch (vector math off the JVM,
    per the module's UDF policy), returning a struct so all four signals
    ride one transfer. The norm is a ``seq_dot`` fold, matching
    DuckDB's list_sum exactly; zero/finite counts are integer-exact. Pure
    map-side: no shuffle at any scale.
    """
    emb = load_table(spark, sf_dir, "embeddings")

    @F.pandas_udf("struct<dim:int,l2_norm:double,n_zero:int,n_nonfinite:int>")
    def _audit(vecs: pd.Series) -> pd.DataFrame:
        m = _mat(vecs)
        return pd.DataFrame(
            {
                "dim": np.full(m.shape[0], m.shape[1], dtype=np.int32),
                "l2_norm": np.round(np.sqrt(seq_dot(m, m)), 6),
                "n_zero": (m == 0.0).sum(axis=1).astype(np.int32),
                "n_nonfinite": (~np.isfinite(m)).sum(axis=1).astype(np.int32),
            }
        )

    return emb.select("vec_id", _audit("embedding").alias("a")).select(
        "vec_id", "a.dim", "a.l2_norm", "a.n_zero", "a.n_nonfinite"
    )


@register(
    "ann_ivf_recall_probe",
    oracle=f"""
    WITH bf AS ({_BF_ORACLE}),
    ivf AS (SELECT * FROM ({_ivf_oracle_sql()}) t)
    SELECT bf.query_id,
           count(*) AS n_true,
           CAST(sum(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           round(CAST(sum(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS recall
    FROM bf
    LEFT JOIN ivf ON ivf.query_id = bf.query_id
                 AND ivf.neighbor_id = bf.neighbor_id
    GROUP BY bf.query_id
    """,
)
def ann_ivf_recall_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured IVF recall vs the exact brute-force baseline, per query:
    of the true top-k neighbors, how many the NPROBE-cell search returned.
    The acceptance metric every ANN index ships with — first-class and
    oracle-replayed (both the exact ranking and the whole deterministic
    index build run in SQL on the DuckDB side), not just a pytest
    assertion. All counts integer; recall is the only float and only in
    the emitted rounded value.

    Cost note: runs both the baseline and the index search — a PROBE (the
    thing you run when tuning K_CELLS/NPROBE on a sample), not a per-query
    production path.
    """
    bf = knn_bruteforce_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = ann_ivf_cosine(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        bf.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"),
        )
        .select(
            "query_id",
            "n_true",
            "n_hit",
            F.round(F.col("n_hit").cast("double") / F.col("n_true"), 6).alias(
                "recall"
            ),
        )
    )


# --------------------------------------------------------------------------
# Ranking-quality probe: nDCG@k + MRR of the IVF ranking vs exact
# --------------------------------------------------------------------------

# Integer-ppm DCG discounts and reciprocal ranks, precomputed in Python so
# NEITHER engine evaluates a float log at query time: rank membership and
# every sum stay integer-exact cross-engine (the repo's ppm idiom — same
# reason rrf_fusion_topk uses floor(1e9/(60+rank))). disc(r) =
# round(1e6 / log2(r+1)); rel(r) = TOP_K+1-r (graded by exact rank).
_NDCG_DISC_PPM = {r: round(1_000_000 / _math.log2(r + 1)) for r in range(1, TOP_K + 1)}
_RR_PPM = {r: 1_000_000 // r for r in range(1, TOP_K + 1)}


def _rank_case_sql(rank_expr: str, table: dict[int, int]) -> str:
    whens = " ".join(f"WHEN {r} THEN {v}" for r, v in table.items())
    return f"CASE {rank_expr} {whens} ELSE 0 END"


def _rank_case_col(rank_col: str, table: dict[int, int]) -> Column:
    expr = None
    for r, v in table.items():
        expr = (expr.when if expr is not None else F.when)(
            F.col(rank_col) == r, F.lit(v)
        )
    return expr.otherwise(F.lit(0))


# Deterministic hash sample of the probe-query set for the REGISTERED
# ranking-quality form (VERDICT r11 #4): the exact brute-force leg is the
# one per-query corpus-linear cost in the acceptance probe, and the
# acceptance contract is a statistical estimate over a held-out query
# set — so production scores a fixed hash-sampled subset (~1/2 here;
# {3, 4} of the 5 fixture queries) instead of every probe query. The
# repo's md5 idiom keeps the sample identical cross-engine; the full-set
# form stays available as ann_ranking_quality_full for tests/tuning.
_RQ_SAMPLE_MOD = 1000
_RQ_SAMPLE_KEEP = 500


def _rq_sample_col(col: Column) -> Column:
    return (md5_int(col.cast("string")) % _RQ_SAMPLE_MOD) < _RQ_SAMPLE_KEEP


def _rq_sample_sql(expr: str) -> str:
    return f"{md5_int_sql(f'CAST({expr} AS VARCHAR)')} % {_RQ_SAMPLE_MOD} < {_RQ_SAMPLE_KEEP}"


@register(
    "ann_ranking_quality",
    oracle=f"""
    WITH bf AS (
      SELECT * FROM ({_BF_ORACLE}) b0 WHERE {_rq_sample_sql("b0.query_id")}
    ),
    ivf AS (
      SELECT * FROM ({_ivf_oracle_sql()}) t WHERE {_rq_sample_sql("t.query_id")}
    ),
    per_q AS (
      SELECT i.query_id,
             CAST(sum(CASE WHEN b.neighbor_id IS NOT NULL
                  THEN ({TOP_K} + 1 - b.rank) * {_rank_case_sql("i.rank", _NDCG_DISC_PPM)}
                  ELSE 0 END) AS BIGINT) AS dcg_ppm,
             CAST(max(CASE WHEN b.rank = 1
                  THEN {_rank_case_sql("i.rank", _RR_PPM)}
                  ELSE 0 END) AS BIGINT) AS rr_ppm
      FROM ivf i LEFT JOIN bf b
        ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
      GROUP BY i.query_id
    ),
    ideal AS (
      SELECT query_id, count(*) AS n_true,
             CAST(sum(({TOP_K} + 1 - rank) * {_rank_case_sql("rank", _NDCG_DISC_PPM)})
                  AS BIGINT) AS idcg_ppm
      FROM bf GROUP BY query_id
    )
    SELECT g.query_id, g.n_true,
           COALESCE(p.dcg_ppm, 0) AS dcg_ppm, g.idcg_ppm,
           round(CAST(COALESCE(p.dcg_ppm, 0) AS DOUBLE) / g.idcg_ppm, 6) AS ndcg,
           COALESCE(p.rr_ppm, 0) AS rr_ppm
    FROM ideal g LEFT JOIN per_q p ON p.query_id = g.query_id
    """,
)
def ann_ranking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query nDCG@k and MRR of the IVF ranking against the exact
    brute-force ideal, scored on the deterministic hash-SAMPLED query
    subset (VERDICT r11 #4) — the ORDER-sensitive acceptance metrics
    that recall@k cannot see (an index returning the right set in the
    wrong order has recall 1.0 but degraded nDCG; an index that misses
    the single true nearest neighbor has rr_ppm < 1e6). Relevance is
    graded by exact rank (rel = k+1-rank), discounts are precomputed
    integer ppm constants, so dcg/idcg/rr are all integer-exact
    cross-engine and the only float is the final rounded ratio.

    Cost shape: the IVF leg prunes to probed cells, but the EXACT leg is
    corpus-linear per query — the suite's worst scale ratio at 64× came
    entirely from it. The acceptance probe is a statistical estimate, so
    the registered form scores the hash-sampled subset (the sample
    predicate pushes into the broadcast query-side scan, shrinking the
    scored pair mass at the source); ``ann_ranking_quality_full`` keeps
    the every-query form for tests and small-scale tuning. This is the
    loop a 100 TB deployment runs on a held-out probe set after every
    index rebuild (alongside ann_ivf_recall_probe), not a per-query path.
    """
    return _ranking_quality_frame(spark, sf_dir, sampled=True)


def ann_ranking_quality_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-query form of :func:`ann_ranking_quality` (no sampling) —
    test/tuning surface; identical math, full probe set."""
    return _ranking_quality_frame(spark, sf_dir, sampled=False)


def _ranking_quality_frame(
    spark: SparkSession, sf_dir: str, sampled: bool
) -> DataFrame:
    bf = knn_bruteforce_cosine(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rank").alias("exact_rank")
    )
    ivf = ann_ivf_cosine(spark, sf_dir).select("query_id", "neighbor_id", "rank")
    if sampled:
        bf = bf.where(_rq_sample_col(F.col("query_id")))
        ivf = ivf.where(_rq_sample_col(F.col("query_id")))
    joined = ivf.join(bf, ["query_id", "neighbor_id"], "left")
    per_q = joined.groupBy("query_id").agg(
        F.sum(
            F.when(
                F.col("exact_rank").isNotNull(),
                (F.lit(TOP_K + 1) - F.col("exact_rank"))
                * _rank_case_col("rank", _NDCG_DISC_PPM),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("dcg_ppm"),
        F.max(
            F.when(F.col("exact_rank") == 1, _rank_case_col("rank", _RR_PPM)).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("rr_ppm"),
    )
    ideal = bf.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(
            (F.lit(TOP_K + 1) - F.col("exact_rank"))
            * _rank_case_col("exact_rank", _NDCG_DISC_PPM)
        )
        .cast("long")
        .alias("idcg_ppm"),
    )
    return (
        ideal.join(per_q, "query_id", "left")
        .select(
            "query_id",
            "n_true",
            F.coalesce("dcg_ppm", F.lit(0)).alias("dcg_ppm"),
            "idcg_ppm",
            F.round(
                F.coalesce("dcg_ppm", F.lit(0)).cast("double") / F.col("idcg_ppm"), 6
            ).alias("ndcg"),
            F.coalesce("rr_ppm", F.lit(0)).alias("rr_ppm"),
        )
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# --------------------------------------------------------------------------

# 64 dims → M_SUB subspaces × SUB_DIM dims, K_CODES centroids each: codes
# are M_SUB small ints per vector (4 bytes here vs 256 bytes of float32 —
# the 64× compression that lets a 100 TB embedding corpus live in RAM as
# codes). K=8/M=4 keeps the oracle's replayed build tractable; production
# uses K=256/M=8+ with more Lloyd rounds — same dataflow.
M_SUB = 4
SUB_DIM = 16
K_CODES = 8

_PQ_CODEBOOK_CACHE: dict[tuple, list[list[list[float]]]] = register_memo({})


def _pq_subvecs(emb: DataFrame) -> DataFrame:
    """(vec_id, sub, v): each embedding split into M_SUB SUB_DIM-slices."""
    return emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.slice("embedding", s * SUB_DIM + 1, SUB_DIM).alias("v"),
                    )
                    for s in range(M_SUB)
                ]
            )
        ).alias("sv"),
    ).select("vec_id", "sv.sub", "sv.v")


def _pq_assign_codes(
    subv: DataFrame, books: list[list[list[float]]], keep_v: bool = False
) -> DataFrame:
    """(vec_id, sub, code): nearest-codeword id per subvector, squared-L2,
    ties to the lower code — one Arrow kernel over (sub, v).

    ``keep_v=True`` carries the subvector through the projection so the
    codebook build can aggregate means directly from this frame — r17:
    the old build re-joined this output back to ``subv`` on
    (vec_id, sub), a whole shuffle join that existed only to re-attach a
    column the kernel already had in hand (guide §2.4).

    The kernel is marked non-deterministic (it is deterministic in
    fact) to stop the optimizer CLONING it: the downstream inner join's
    inferred ``isnotnull(code)`` was pushed below the projection, and
    the plan evaluated the whole Arrow kernel TWICE per row — the guide
    §4.4 duplicated-UDF pattern, two ArrowEvalPython nodes in the
    r16_pre ann_pq_adc_topk plan."""
    mats = [np.asarray(b, dtype=np.float64) for b in books]  # M_SUB × (K, SUB_DIM)

    @F.pandas_udf("int")
    def _code(sub: pd.Series, v: pd.Series) -> pd.Series:
        m = _mat(v)  # (B, SUB_DIM)
        subs = sub.to_numpy()
        out = np.zeros(len(m), dtype=np.int32)
        for s in range(M_SUB):
            mask = subs == s
            if not mask.any():
                continue
            ms = m[mask]
            # (B_s, K) squared distances, each a seq_dot fold of the
            # difference, then stable argmin (ties to lower code).
            dists = np.stack([seq_dot(ms - c, ms - c) for c in mats[s]], axis=1)
            out[mask] = np.argmin(dists, axis=1).astype(np.int32)
        return pd.Series(out)

    code = _code.asNondeterministic()("sub", "v").alias("code")
    cols = ["vec_id", "sub", "v", code] if keep_v else ["vec_id", "sub", code]
    return subv.select(*cols)


def pq_codebooks_for(sf_dir: str, emb: DataFrame) -> list[list[list[float]]]:
    """Deterministic PQ codebooks (M_SUB × K_CODES × SUB_DIM), trained at
    most once per fixture snapshot (:func:`fixture_memo`, the
    ivf_centroids_for policy; the 100 TB analog persists them beside the
    codes).

    Build = :func:`_lloyd_codebooks` per subspace, run as ONE Spark job
    across all subspaces: seeds are the K_CODES lowest vec_ids'
    subvectors, one Lloyd step assigns every subvector to its nearest
    seed (squared L2, sequential fold), and the per-(sub, cell) means are
    SUB_DIM exact scaled-long sums, so the oracle replays the identical
    codebook from SQL. The assignment kernel keeps the subvector
    (``keep_v``), so the means group it directly — no (vec_id, sub)
    re-join of 8×|corpus| rows against itself (r17, guide §2.4)."""

    def assign(seeds):
        return _pq_assign_codes(_pq_subvecs(emb), seeds, keep_v=True).withColumnRenamed(
            "code", "cell"
        )

    return fixture_memo(
        _PQ_CODEBOOK_CACHE, emb.sparkSession, sf_dir, "embeddings",
        lambda: _lloyd_codebooks(emb, K_CODES, SUB_DIM, assign),
    )


def _pq_adc_table(
    spark: SparkSession, subv: DataFrame, books: list[list[list[float]]]
) -> DataFrame:
    """Per-query ADC tables (query_id, sub, cell, d): the exact squared-L2
    distance of each probe subvector to every codeword of its subspace,
    carried as decimal(24,10) so the ADC sums are exact. The codebooks
    ride as a tiny broadcast frame of M_SUB×K_CODES rows."""
    cents = spark.createDataFrame(
        [(s, k, [float(x) for x in book[k]]) for s, book in enumerate(books) for k in range(len(book))],
        "sub int, cell int, c array<double>",
    )

    @F.pandas_udf("double")
    def _l2(a: pd.Series, b: pd.Series) -> pd.Series:
        diff = _mat(a) - _mat(b)
        return pd.Series(seq_dot(diff, diff))

    return (
        subv.where(F.col("vec_id") < N_QUERIES)
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(cents), "sub")
        .select(
            "query_id",
            "sub",
            "cell",
            _l2(F.col("v").cast("array<double>"), "c").cast("decimal(24,10)").alias("d"),
        )
    )


def _pq_l2_sql(a: str, b: str) -> str:
    d = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return fold_sql(f"{d} * {d}", SUB_DIM)


def _pq_build_ctes(prefix: str = "p") -> str:
    """DuckDB replay of the PQ codebook/encoding build: subvector split,
    seed selection, one Lloyd step with exact decimal means, corpus
    encoding. Ends in ``{prefix}codes(vec_id, sub, code)`` and
    ``{prefix}cents(sub, cell, c)``; the prefix lets the CTEs coexist
    with the IVF build's names in one oracle. Every float fold is
    order-matched to the pandas kernels."""
    mean_cols, cent_list = _lloyd_sql("v", SUB_DIM)
    P = prefix
    return f"""{P}subs AS (SELECT unnest(generate_series(0, {M_SUB - 1})) AS sub),
    {P}subv AS (
      SELECT e.vec_id, s.sub,
             e.embedding[(s.sub * {SUB_DIM} + 1):((s.sub + 1) * {SUB_DIM})] AS v
      FROM embeddings e CROSS JOIN {P}subs s
    ),
    {P}seeds AS (
      SELECT t.sub, t.v,
             row_number() OVER (PARTITION BY t.sub ORDER BY t.vec_id) - 1 AS cell
      FROM {P}subv t
      WHERE t.vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {K_CODES})
    ),
    {P}assign0 AS (
      SELECT t.vec_id, t.sub, t.v, s.cell,
             row_number() OVER (PARTITION BY t.vec_id, t.sub
               ORDER BY {_pq_l2_sql("t.v", "s.v")} ASC, s.cell) AS rk
      FROM {P}subv t JOIN {P}seeds s ON s.sub = t.sub
    ),
    {P}means AS (
      SELECT sub, cell, {mean_cols}
      FROM {P}assign0 WHERE rk = 1 GROUP BY sub, cell
    ),
    {P}cents AS (
      SELECT s.sub, s.cell, list_value({cent_list}) AS c
      FROM {P}seeds s LEFT JOIN {P}means m ON m.sub = s.sub AND m.cell = s.cell
    ),
    {P}codes AS (
      SELECT vec_id, sub, cell AS code FROM (
        SELECT t.vec_id, t.sub, c.cell,
               row_number() OVER (PARTITION BY t.vec_id, t.sub
                 ORDER BY {_pq_l2_sql("t.v", "c.c")} ASC, c.cell) AS rk
        FROM {P}subv t JOIN {P}cents c ON c.sub = t.sub
      ) WHERE rk = 1
    )"""


def _pq_search_sql(prefix: str, cand: str = "") -> str:
    """Per-query ADC tables over the ``{prefix}`` PQ build, exact-decimal
    ADC sums per (query, neighbor) — restricted by the ``cand`` join when
    given — and the top-k ranking by ascending distance."""
    P = prefix
    return f"""qtab AS (
      SELECT q.vec_id AS query_id, c.sub, c.cell,
             CAST({_pq_l2_sql("q.v", "c.c")} AS DECIMAL(24,10)) AS d
      FROM {P}subv q JOIN {P}cents c ON c.sub = q.sub
      WHERE q.vec_id < {N_QUERIES}
    ),
    adc AS (
      SELECT t.query_id, k.vec_id AS neighbor_id, SUM(t.d) AS dist
      FROM qtab t JOIN {P}codes k ON k.sub = t.sub AND k.code = t.cell
      {cand or "WHERE k.vec_id <> t.query_id"}
      GROUP BY t.query_id, k.vec_id
    )
    SELECT query_id, neighbor_id, round(CAST(dist AS DOUBLE), 6) AS pq_dist, rank
    FROM (
      SELECT query_id, neighbor_id, dist,
             row_number() OVER (PARTITION BY query_id
               ORDER BY dist ASC, neighbor_id) AS rank
      FROM adc
    ) t WHERE rank <= {TOP_K}
    """


def _pq_oracle_sql() -> str:
    """DuckDB replay of the FULL PQ pipeline: the build CTEs, per-query
    ADC tables, exact-decimal ADC sums, top-k ranking."""
    return f"""
    WITH {_pq_build_ctes("")},
    {_pq_search_sql("")}"""


@register("ann_pq_adc_topk", oracle=_pq_oracle_sql())
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed nearest neighbors via asymmetric distance
    computation: every corpus vector is stored as M_SUB={m} codes into
    per-subspace K={k}-codeword codebooks (trained by the deterministic
    seed+one-Lloyd-step recipe of the IVF build, per subspace); each query
    precomputes an M_SUB×K table of exact subspace distances to the
    codewords; the approximate distance to ANY corpus vector is then M_SUB
    table lookups summed — no original vector is ever touched at search
    time.

    This is the memory-side scale path that complements IVF's
    candidate-pruning: codes are {m} small ints per vector (vs {dim}
    floats), so the searchable index is ~64× smaller than the corpus and
    the ADC scan is a broadcast-hash-join of the (queries × {m}×{k})-row
    lookup table against the codes table — a map-side scan at any corpus
    size, shuffling only the (query, neighbor) partial sums. Production
    composes it with IVF (scan only probed cells' codes).

    Determinism end-to-end: codebooks from exact decimal means, subspace
    distances by dimension-sequential folds, and the ADC *sum* carried in
    decimal(24,10) — exact, order-independent, and never half-way-rounded
    (no binary double lands exactly on a 10^-11 tie) — so ranks and
    distances replay bit-for-bit in the oracle's full SQL rebuild.
    """
    emb = tracked_cache(load_table(spark, sf_dir, "embeddings"))
    books = pq_codebooks_for(sf_dir, emb)

    subv = _pq_subvecs(emb)
    codes = _pq_assign_codes(subv, books)
    qtab = _pq_adc_table(spark, subv, books)
    adc = (
        codes.join(
            F.broadcast(qtab), (codes["sub"] == qtab["sub"]) & (codes["code"] == qtab["cell"])
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").alias("dist"))
    )
    return top_k(adc, TOP_K, "dist", "pq_dist", asc=True)


ann_pq_adc_topk.__doc__ = ann_pq_adc_topk.__doc__.format(
    m=M_SUB, k=K_CODES, dim=_DIM
)


# --------------------------------------------------------------------------
# IVF + PQ composition: prune candidates by cell, score by ADC
# --------------------------------------------------------------------------


def _ivf_pq_oracle_sql() -> str:
    """Oracle for the IVF+PQ composition: the IVF build CTEs give the
    probed-cell candidate set, the PQ build CTEs give codes + per-query
    ADC tables, and the final ranking is the exact-decimal ADC sum over
    candidates only."""
    return f"""
    WITH {_ivf_build_ctes()},
    {_probe_sql("vec_id")},
    cand AS (
      SELECT p.vec_id AS query_id, v.vec_id AS neighbor_id
      FROM probe p JOIN corpus v ON v.cell = p.cell AND v.vec_id <> p.vec_id
    ),
    {_pq_build_ctes("p")},
    {_pq_search_sql("p", "JOIN cand c ON c.query_id = t.query_id AND c.neighbor_id = k.vec_id")}"""


@register("ann_ivf_pq_topk", oracle=_ivf_pq_oracle_sql())
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN composition — IVF candidate pruning × PQ-ADC
    scoring: each query considers only the vectors in its NPROBE nearest
    IVF cells, and scores those candidates entirely in PQ code space
    (M_SUB table lookups per candidate, exact-decimal sums). This is the
    FAISS IVF-PQ shape: the cell index prunes ~(1 - NPROBE/K) of the
    corpus before any distance work, and the surviving candidates are
    scored against 4-byte codes instead of 256-byte vectors.

    At 100 TB: codes live partitioned by IVF cell, so a query reads
    NPROBE partitions of 4-byte codes — the scan is ~64× smaller than
    the raw corpus AND ~K/NPROBE-fold pruned, multiplicative savings the
    two indexes earn independently (which is why the composition, not
    either half, is the production default). Both builds are the
    deterministic recipes of their standalone operators, so the oracle
    replays cell assignment, codebooks, codes, and ranking bit-for-bit.
    """
    emb = load_table(spark, sf_dir, "embeddings").transform(tracked_cache)
    centroids = ivf_centroids_for(sf_dir, emb)
    books = pq_codebooks_for(sf_dir, emb)

    cells = emb.select(
        "vec_id", _nearest_cells(F.col("embedding"), centroids, 1)[0].alias("cell")
    )
    probes = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.explode(_nearest_cells(F.col("embedding"), centroids, NPROBE)).alias("cell"),
    )
    cand = (
        cells.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )

    subv = _pq_subvecs(emb)
    codes = _pq_assign_codes(subv, books)
    qtab = _pq_adc_table(spark, subv, books)
    adc = (
        cand.join(codes, "vec_id")
        .join(
            F.broadcast(qtab),
            (codes["sub"] == qtab["sub"])
            & (codes["code"] == qtab["cell"])
            & (cand["query_id"] == qtab["query_id"]),
        )
        .groupBy(cand["query_id"], F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").alias("dist"))
    )
    return top_k(adc, TOP_K, "dist", "pq_dist", asc=True)


# --- int8 scalar-quantization recall probe -------------------------------

QUANT_QUERIES = 20
QUANT_K = 10

_QUANT_SCALE_CACHE: dict[tuple, float] = register_memo({})


def int8_scale_for(sf_dir: str, emb: DataFrame) -> float | None:
    """The global symmetric-quantizer scale max|x| (None on an empty
    corpus): index metadata, memoized per fixture snapshot like the IVF
    centroids and PQ codebooks. A posexplode rollup, not 128 aggregate
    expressions in one agg: the wide-agg form spent ~3.5 s COMPILING
    (Janino, 128 agg trees) to aggregate 5k rows."""
    return fixture_memo(
        _QUANT_SCALE_CACHE, emb.sparkSession, sf_dir, "embeddings",
        lambda: emb.select(F.explode("embedding").alias("x"))
        .agg(F.max(F.abs(F.col("x").cast("double"))).alias("a"))
        .collect()[0]["a"],
    )


@register(
    "embedding_int8_quant_recall",
    oracle=f"""
    WITH amax AS (
      SELECT max(greatest(abs(mn), abs(mx))) AS a FROM (
        SELECT min(CAST(e.embedding[g.i] AS DOUBLE)) AS mn,
               max(CAST(e.embedding[g.i] AS DOUBLE)) AS mx
        FROM embeddings e, generate_series(1, 64) AS g(i)
        GROUP BY g.i
      )
    ),
    qv AS (
      SELECT e.vec_id, g.i AS i,
             CAST(floor(CAST(e.embedding[g.i] AS DOUBLE) * 127.0
                        / (SELECT a FROM amax)) AS BIGINT) AS q
      FROM embeddings e, generate_series(1, 64) AS g(i)
    ),
    idot AS (
      SELECT qa.vec_id AS query_id, qb.vec_id AS neighbor_id,
             sum(qa.q * qb.q) AS d
      FROM qv qa JOIN qv qb ON qa.i = qb.i
      WHERE qa.vec_id < {QUANT_QUERIES} AND qb.vec_id <> qa.vec_id
      GROUP BY 1, 2
    ),
    irank AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY d DESC, neighbor_id) AS rank
      FROM idot
    ),
    frank AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY {dot_sql("q.embedding", "v.embedding")} DESC,
                                         v.vec_id) AS rank
      FROM embeddings q JOIN embeddings v ON v.vec_id <> q.vec_id
      WHERE q.vec_id < {QUANT_QUERIES}
    )
    SELECT q.vec_id AS query_id,
           CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap
    FROM embeddings q
    LEFT JOIN (
      SELECT i.query_id, count(*) AS n_overlap
      FROM irank i JOIN frank f
        ON f.query_id = i.query_id AND f.neighbor_id = i.neighbor_id
      WHERE i.rank <= {QUANT_K} AND f.rank <= {QUANT_K}
      GROUP BY i.query_id
    ) ov ON ov.query_id = q.vec_id
    WHERE q.vec_id < {QUANT_QUERIES}
    """,
)
def embedding_int8_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of int8-quantized maximum-inner-product search against
    exact float MIPS — the audit run before shipping a quantized index:
    symmetric scalar quantization (one GLOBAL scale, q = floor(x·127/
    max|x|)) cuts index and shuffle bytes 4x, and because the scale is a
    single shared constant, integer code dots are order-preserving
    approximations of true dots — unlike per-dim affine (min/max) codes,
    whose offset cross-terms corrupt MIPS rankings unless the index
    stores reconstruction terms (measured on this fixture: 97% recall
    symmetric vs 7% affine-no-offset).

    The scale posture mirrors the FAISS-style operators above: the
    quantizer state is ONE scalar — index METADATA, collected once and
    folded into the plan as a literal (the same "collect only the
    codebook" discipline as ann_ivf/ann_pq). Quantized scoring is pure
    integer multiply-add (order-independent, engine-exact); the exact
    arm reuses the dimension-sequential float-dot contract that keeps
    dot products bit-identical to the oracle. Both arms broadcast the
    20-query probe side, so the corpus is scanned, never shuffled.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    amax = int8_scale_for(sf_dir, emb)

    def _quant(col):
        return F.array(
            *[
                F.floor(col[i].cast("double") * 127.0 / F.lit(amax)).cast("long")
                for i in range(_DIM)
            ]
        )

    # Quantize in its OWN projection (a 64-term array build is about one
    # method's worth of codegen budget), then score in the next.
    # Cached: the code table is the 4x-compressed INDEX and feeds both
    # the probe projection and the corpus side of the integer-dot join —
    # uncached, each side re-ran the quantization over a fresh scan.
    qcodes = tracked_cache(
        emb.select("vec_id", _quant(F.col("embedding")).alias("qc"))
    )
    probes = qcodes.where(F.col("vec_id") < QUANT_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qc").alias("pc")
    )
    idot = F.col("qc")[0] * F.col("pc")[0]
    for i in range(1, _DIM):
        idot = idot + F.col("qc")[i] * F.col("pc")[i]
    iranked = top_k(
        qcodes.join(F.broadcast(probes), F.col("vec_id") != F.col("query_id")).select(
            "query_id", F.col("vec_id").alias("neighbor_id"), idot.alias("d")
        ),
        QUANT_K,
        "d",
    ).select("query_id", "neighbor_id")

    fq = emb.where(F.col("vec_id") < QUANT_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    fscored = (
        emb.join(F.broadcast(fq), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot_udf(F.col("q_emb"), F.col("embedding")).alias("d"),
        )
    )
    franked = top_k(fscored, QUANT_K, "d").select("query_id", "neighbor_id")
    overlap = (
        iranked.join(franked, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    spine = emb.where(F.col("vec_id") < QUANT_QUERIES).select(
        F.col("vec_id").alias("query_id")
    )
    return spine.join(overlap, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
    )


# --- hard-negative mining -------------------------------------------------

HN_QUERIES = 10
HN_K = 5


@register(
    "hard_negative_mining",
    oracle=_topk_sql(
        f"""FROM embeddings q JOIN embeddings v
        ON v.vec_id <> q.vec_id AND v.label <> q.label
      WHERE q.vec_id < {HN_QUERIES}""",
        HN_K,
    ),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-5 most cosine-similar vectors with a DIFFERENT label — the
    near-misses that teach an embedding model its decision boundary
    (random negatives are trivially separable; these are not).

    Same execution shape as knn_bruteforce_cosine with the label
    predicate fused into the broadcast join condition, so mismatched
    labels are dropped BEFORE scoring rather than filtered after — at
    scale that predicate removes ~1/n_labels of the score work for
    free. Probe side broadcast, Arrow-vectorized cosine, corpus scanned
    not shuffled.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < HN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    scored = (
        emb.join(
            F.broadcast(q),
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("label") != F.col("q_label")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_udf(F.col("q_emb"), F.col("embedding")).alias("raw_sim"),
        )
    )
    return top_k(scored, HN_K)


@register(
    "ann_filtered_ivf",
    oracle=f"""
    WITH {_ivf_build_ctes()},
    {_probe_sql("vec_id, embedding, label")}"""
    + _topk_sql(
        """FROM probe q
      JOIN (SELECT c.vec_id, c.embedding, c.cell, e.label
            FROM corpus c JOIN embeddings e USING (vec_id)) v
        ON v.cell = q.cell AND v.vec_id <> q.vec_id AND v.label = q.label"""
    ),
)
def ann_filtered_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — ANN with a metadata predicate, the shape
    every production vector store runs (RAG retrieval restricted to one
    tenant/collection/language): each query's neighbors must satisfy the
    predicate (here: share the query's label) AND rank top-k by cosine
    within the NPROBE probed IVF cells.

    The predicate is applied as PRE-filtering — fused into the cell-
    pruned candidate join, so non-matching vectors are discarded before
    any distance is computed. Post-filtering (top-k first, filter after)
    would silently return < k rows whenever the unfiltered top-k is
    dominated by non-matching neighbors; with pre-filtering, recall
    within probed cells is exact. At 100 TB with the corpus written
    partitioned by cell (and optionally sub-partitioned by a coarse
    predicate column), the filter reaches the parquet scan as a pushed
    predicate and the probe set stays a broadcast.

    Shares the memoized deterministic IVF build with ann_ivf_cosine (one
    codebook per fixture per session).
    """
    emb = load_table(spark, sf_dir, "embeddings").transform(tracked_cache)
    centroids = ivf_centroids_for(sf_dir, emb)
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("v_emb"),
        F.col("label").alias("v_label"),
        _nearest_cells(F.col("embedding"), centroids, 1)[0].alias("cell"),
    )
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
        F.explode(_nearest_cells(F.col("embedding"), centroids, NPROBE)).alias(
            "q_cell"
        ),
    )
    scored = corpus.join(
        F.broadcast(q),
        (F.col("cell") == F.col("q_cell"))
        & (F.col("neighbor_id") != F.col("query_id"))
        & (F.col("v_label") == F.col("q_label")),
    ).select(
        "query_id",
        "neighbor_id",
        cosine_udf(F.col("q_emb"), F.col("v_emb")).alias("raw_sim"),
    )
    return top_k(scored, TOP_K)


MRL_DIM = 32  # truncation point: the first half of the 64-dim embedding

@register(
    "matryoshka_truncation_recall",
    oracle=f"""
    WITH pairs AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             {cos_sql("q.embedding", "v.embedding")} AS sim_full,
             {cos_sql("q.embedding", "v.embedding", MRL_DIM)} AS sim_trunc
      FROM embeddings q JOIN embeddings v ON v.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim_full DESC, neighbor_id) AS rf,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim_trunc DESC, neighbor_id) AS rt
      FROM pairs
    )
    SELECT query_id,
           CAST(coalesce(sum(CASE WHEN rf <= {TOP_K} AND rt <= {TOP_K}
                             THEN 1 END), 0) AS BIGINT) AS n_overlap,
           CAST(1000000 * coalesce(sum(CASE WHEN rf <= {TOP_K} AND rt <= {TOP_K}
                                        THEN 1 END), 0) // {TOP_K}
             AS BIGINT) AS recall_ppm
    FROM ranked GROUP BY query_id
    """,
)
def matryoshka_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation truncation audit: recall@TOP_K of
    nearest-neighbor search using only the FIRST MRL_DIM of 64
    embedding dimensions against the full-dimension ranking — the
    acceptance measurement for MRL-style dimension truncation (2× less
    vector memory and bandwidth if recall holds; the fixture's
    unstructured embeddings show the baseline penalty an MRL-trained
    model is supposed to avoid).

    ONE broadcast join scores each (query, corpus) pair under BOTH
    metrics in the same row, two rank windows share that frame, and the
    intersection count is a per-query aggregate — the corpus is scanned
    once, never twice-ranked from separate scans. Both cosines use the
    dimension-sequential kernels, so ranks are bit-identical
    cross-engine and recall is exact integer arithmetic.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    v = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("v_emb")
    )
    pairs = v.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        cosine_udf(F.col("q_emb"), F.col("v_emb")).alias("sim_full"),
        cosine_udf(F.col("q_emb"), F.col("v_emb"), MRL_DIM).alias("sim_trunc"),
    )

    wf = Window.partitionBy("query_id").orderBy(
        F.desc("sim_full"), F.asc("neighbor_id")
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.desc("sim_trunc"), F.asc("neighbor_id")
    )
    ranked = pairs.select(
        "query_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wt).alias("rt"),
    )
    both = (F.col("rf") <= TOP_K) & (F.col("rt") <= TOP_K)
    return ranked.groupBy("query_id").agg(
        F.coalesce(F.sum(F.when(both, 1)), F.lit(0))
        .cast("long")
        .alias("n_overlap"),
        F.expr(
            f"CAST(1000000 * coalesce(sum(CASE WHEN rf <= {TOP_K} AND"
            f" rt <= {TOP_K} THEN 1 END), 0) div {TOP_K} AS BIGINT)"
        ).alias("recall_ppm"),
    )
