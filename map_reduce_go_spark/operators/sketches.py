"""Probabilistic sketch operators: count-min frequency estimation and
Bloom-filter join pruning.

At 100 TB, exact answers to "how often does each key occur" and "is this
key in that other table" are shuffle-priced; sketches buy both for a
fixed, mergeable, broadcastable budget. These two queries build the
sketches *inside* the engine (pure deterministic column arithmetic — no
library, no RNG) and then measure them against the exact answer, the same
accuracy-contract framing as `approx_distinct_probe` and
`quantile_sketch_probe`: the interesting output is not just the estimate
but the measured error the sketch's parameters promise.

Determinism: every hash is the repo's portable hash
(``functions/hashing.py``: the first 8 md5 hex digits of ``salt|key`` as
an integer, mod M — identical bit-for-bit in Spark and DuckDB), so cell
indices, bit positions, and therefore every reported count replay
exactly in the oracle. The reference's engine has no sketch surface at
all — these extend its wordcount dataflow (reference src/mrapps/wc.go:19-40:
tokenize → count per key) the way its users would first ask for ("top
words without keeping every word"); the CMS build is literally that
wordcount with the key space folded to d×w hash cells, and the same
ihash(key)%n partition trick the reference shuffles by
(src/mr/worker.go:24-28) becomes the cell index.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_go_spark.functions.hashing import md5_int, md5_int_sql
from map_reduce_go_spark.functions.text import SPLIT_WORDS_SQL, tokenize
from map_reduce_go_spark.registry import register
from map_reduce_go_spark.sources.readers import load_table

# --------------------------------------------------------------------------
# Count-min sketch
# --------------------------------------------------------------------------

# d hash rows × w counters. w = 512 against a fixture vocabulary of ~1k
# distinct words keeps collisions frequent enough that the probe actually
# exercises the min-over-rows bound (overestimates occur and are measured)
# while the epsilon = e/w guarantee stays visible. Production sizes w to
# e/epsilon for the tolerated absolute error at the corpus's token count.
_CMS_D = 4
_CMS_W = 512
_TOPK = 20


def _h(salt: str, key: Column, mod: int) -> Column:
    """The salted portable hash of ``key``, reduced mod ``mod``."""
    return md5_int(F.concat(F.lit(salt + "|"), key)) % mod


def _h_sql(salt: str, key_expr: str, mod: int) -> str:
    return md5_int_sql(f"'{salt}|' || {key_expr}") + f" % {mod}"


def cms_cells_over(words: DataFrame) -> DataFrame:
    """The CMS build as a pure transformation over any (word)-DataFrame —
    batch OR streaming: explode each word into its d (row, col) cells and
    count per cell. As a streaming aggregation the state is the sketch
    itself (d×w rows, never more), which is exactly why CMS is the
    streaming-maintainable answer to frequency tracking — the same
    transformation runs under readStream with no watermark and bounded
    state (tested stream==batch in tests/test_streaming.py)."""
    cell_structs = F.array(
        *[
            F.struct(
                F.lit(r).alias("row_id"),
                _h(f"cms{r}", F.col("word"), _CMS_W).alias("col_id"),
            )
            for r in range(_CMS_D)
        ]
    )
    return (
        words.select(F.explode(cell_structs).alias("rc"))
        .groupBy("rc.row_id", "rc.col_id")
        .agg(F.count(F.lit(1)).alias("cell"))
    )


_CMS_WORDS = f"""
  SELECT unnest({SPLIT_WORDS_SQL}) AS word
  FROM documents
"""

_CMS_CELLS = " UNION ALL ".join(
    f"""
    SELECT {r} AS row_id, {_h_sql(f'cms{r}', 'word', _CMS_W)} AS col_id,
           count(*) AS cell
    FROM words WHERE word <> ''
    GROUP BY col_id
    """
    for r in range(_CMS_D)
)


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH words AS ({_CMS_WORDS}),
    exact AS (
      SELECT word, count(*) AS exact_count
      FROM words WHERE word <> ''
      GROUP BY word
      ORDER BY exact_count DESC, word
      LIMIT {_TOPK}
    ),
    cells AS ({_CMS_CELLS}),
    est AS (
      SELECT e.word, e.exact_count, min(c.cell) AS cms_estimate
      FROM exact e
      JOIN cells c
        ON c.col_id = CASE c.row_id
             WHEN 0 THEN {_h_sql('cms0', 'e.word', _CMS_W)}
             WHEN 1 THEN {_h_sql('cms1', 'e.word', _CMS_W)}
             WHEN 2 THEN {_h_sql('cms2', 'e.word', _CMS_W)}
             ELSE {_h_sql('cms3', 'e.word', _CMS_W)} END
      GROUP BY e.word, e.exact_count
    )
    SELECT word, exact_count, cms_estimate,
           cms_estimate - exact_count AS overestimate
    FROM est
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch accuracy probe: build a {d}×{w} CMS over the
    corpus's words, then report, for the exact top-{k} words, the exact
    count next to the sketch's estimate and its (always ≥ 0)
    overestimate — the acceptance measurement you run before trusting the
    sketch at full scale.

    The sketch build is one word explode → one groupBy((row, col)) sum:
    d×w = 2048 counters total regardless of corpus size, combined
    map-side like any count. That fixed size is the entire point — at
    100 TB the 2048-cell sketch broadcasts to every executor while the
    exact wordcount it approximates is a full vocabulary shuffle. The
    probe side joins the (tiny) exact top-k against its d cells and takes
    min() per word; CMS guarantees estimate ≥ exact, so `overestimate`
    is the measured error that w = e/ε promises to bound.

    All cell indices come from the md5 hash idiom, so the oracle rebuilds
    the identical sketch in SQL — estimates match bit-for-bit.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokenize("text")).alias("word"))
        .where(F.col("word") != "")
    )
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("exact_count"))

    # d (row, col) cells per word row; one shuffle on (row, col). Built
    # from the per-word counts (vocabulary-sized) rather than the raw
    # token stream — same cells, smaller shuffle.
    cell_structs = F.array(
        *[
            F.struct(
                F.lit(r).alias("row_id"), _h(f"cms{r}", F.col("word"), _CMS_W).alias("col_id")
            )
            for r in range(_CMS_D)
        ]
    )
    cells = (
        counts.select(F.explode(cell_structs).alias("rc"), "exact_count")
        .groupBy("rc.row_id", "rc.col_id")
        .agg(F.sum("exact_count").alias("cell"))
    )

    topk = counts.orderBy(F.desc("exact_count"), "word").limit(_TOPK)
    probe = topk.select(
        "word",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row_id"),
                        _h(f"cms{r}", F.col("word"), _CMS_W).alias("col_id"),
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("rc"),
    ).select("word", "exact_count", "rc.row_id", "rc.col_id")
    est = (
        probe.join(F.broadcast(cells), ["row_id", "col_id"])
        .groupBy("word", "exact_count")
        .agg(F.min("cell").alias("cms_estimate"))
    )
    return est.select(
        "word",
        "exact_count",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
    )


cms_heavy_hitters.__doc__ = cms_heavy_hitters.__doc__.format(
    d=_CMS_D, w=_CMS_W, k=_TOPK
)


@register(
    "cms_sketch_cells",
    oracle=f"""
    WITH words AS ({_CMS_WORDS})
    SELECT row_id, col_id, cell FROM ({_CMS_CELLS}) t
    """,
)
def cms_sketch_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min sketch's cells frame itself — the EXACT
    transformation that also runs under readStream (cms_cells_over is the
    shared batch/stream build; tests/test_streaming.py asserts
    stream == batch on it). Registering the batch twin here puts the
    shared operator under the driver's full rows+schema+value-hash gate,
    the same treatment purchase_click_attribution_outer gave the outer
    interval join (VERDICT r5 #6): a drift in the streaming build's
    arithmetic now fails a driver row, not just a pytest assertion.

    Output is every NON-EMPTY (row_id, col_id) cell with its count —
    bounded by d×w (2048) rows regardless of corpus size, which is the
    sketch's entire scale story. The oracle replays each cell from the
    same md5 hash idiom in SQL.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(tokenize("text")).alias("word")).where(
        F.col("word") != ""
    )
    return cms_cells_over(words)

# --------------------------------------------------------------------------
# Bloom-filter join pruning
# --------------------------------------------------------------------------

# m bits, k hashes. m/n ≈ 21 bits/key for the BUILDING segment at sf0.01
# (~400 keys) gives a theoretical fp rate ≈ (1-e^{-kn/m})^k ≈ 0.2% with
# k=3 — small but reliably nonzero against 60k probes, so the measured
# rate is a real number, not structurally zero. Production sizes m from
# the same formula at the real key count.
_BLOOM_M = 8192
_BLOOM_K = 3
_BLOOM_SEGMENT = "BUILDING"

_BLOOM_POS_SQL = " UNION ALL ".join(
    f"SELECT DISTINCT {_h_sql(f'bloom{i}', 'CAST(c_custkey AS VARCHAR)', _BLOOM_M)} AS pos "
    f"FROM customer WHERE c_mktsegment = '{_BLOOM_SEGMENT}'"
    for i in range(_BLOOM_K)
)


@register(
    "bloom_join_prune_probe",
    oracle=f"""
    WITH bits AS (SELECT DISTINCT pos FROM ({_BLOOM_POS_SQL}) t),
    probes AS (
      SELECT o_orderkey, o_custkey,
             {_h_sql('bloom0', 'CAST(o_custkey AS VARCHAR)', _BLOOM_M)} AS p0,
             {_h_sql('bloom1', 'CAST(o_custkey AS VARCHAR)', _BLOOM_M)} AS p1,
             {_h_sql('bloom2', 'CAST(o_custkey AS VARCHAR)', _BLOOM_M)} AS p2
      FROM orders
    ),
    passed AS (
      SELECT p.o_orderkey, p.o_custkey
      FROM probes p
      WHERE EXISTS (SELECT 1 FROM bits b WHERE b.pos = p.p0)
        AND EXISTS (SELECT 1 FROM bits b WHERE b.pos = p.p1)
        AND EXISTS (SELECT 1 FROM bits b WHERE b.pos = p.p2)
    ),
    truth AS (
      SELECT o.o_orderkey
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment = '{_BLOOM_SEGMENT}'
    )
    SELECT
      (SELECT count(*) FROM customer WHERE c_mktsegment = '{_BLOOM_SEGMENT}') AS n_build_keys,
      (SELECT count(*) FROM bits) AS n_set_bits,
      (SELECT count(*) FROM orders) AS n_probed,
      (SELECT count(*) FROM passed) AS n_pass,
      (SELECT count(*) FROM truth) AS n_true_match,
      (SELECT count(*) FROM passed) - (SELECT count(*) FROM truth) AS n_false_pos,
      CAST(floor(1000000 * ((SELECT count(*) FROM passed) - (SELECT count(*) FROM truth))
           / ((SELECT count(*) FROM orders) - (SELECT count(*) FROM truth))) AS BIGINT)
        AS fp_ppm
    """,
)
def bloom_join_prune_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning with its measured false-positive
    rate: build an m={m}, k={k} Bloom filter over the customer keys of one
    market segment, probe every order through it, and report how many
    orders pass vs. how many truly match — the runtime-filter
    effectiveness check behind Spark's own AQE bloom pushdown, built here
    from first principles so the oracle can replay it.

    The filter is the *set of set bit positions* (≤ k·n integers), built
    with one distinct over a build-side-only scan and broadcast to the
    probe; the probe passes iff all k of its positions are set (a k-way
    broadcast semi-join — no shuffle of the 'orders' side at any scale).
    Every true match is guaranteed to pass (no false negatives, by
    construction), so `n_pass - n_true_match` is exactly the
    false-positive count; fp_ppm reports it in integer parts-per-million
    of the true negatives, the quantity (1-e^(-kn/m))^k predicts.

    At 100 TB this is the difference between shuffling the fact table to
    discover 4% of it matters and discarding 96% of it at the scan.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    build = cust.where(F.col("c_mktsegment") == _BLOOM_SEGMENT)
    key = F.col("c_custkey").cast("string")
    bits = (
        build.select(
            F.explode(
                F.array(*[_h(f"bloom{i}", key, _BLOOM_M) for i in range(_BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
    )

    okey = F.col("o_custkey").cast("string")
    probes = orders.select(
        "o_orderkey",
        "o_custkey",
        F.explode(
            F.array(*[_h(f"bloom{i}", okey, _BLOOM_M) for i in range(_BLOOM_K)])
        ).alias("pos"),
    )
    # A probe passes iff all k of its positions are in the bit set: count
    # matched positions per order after a broadcast semi-ish inner join.
    passed = (
        probes.join(F.broadcast(bits), "pos")
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("hits"))
        .where(F.col("hits") == _BLOOM_K)
    )
    truth = orders.join(
        build.select("c_custkey"), orders["o_custkey"] == build["c_custkey"], "left_semi"
    )

    n_build = build.agg(F.count(F.lit(1)).alias("n_build_keys"))
    n_bits = bits.agg(F.count(F.lit(1)).alias("n_set_bits"))
    n_probed = orders.agg(F.count(F.lit(1)).alias("n_probed"))
    n_pass = passed.agg(F.count(F.lit(1)).alias("n_pass"))
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true_match"))
    out = (
        n_build.crossJoin(n_bits).crossJoin(n_probed).crossJoin(n_pass).crossJoin(n_true)
    )
    return out.select(
        "n_build_keys",
        "n_set_bits",
        "n_probed",
        "n_pass",
        "n_true_match",
        (F.col("n_pass") - F.col("n_true_match")).alias("n_false_pos"),
        # NULL, as in the oracle, when there are no true negatives.
        F.try_divide(
            F.lit(1000000) * (F.col("n_pass") - F.col("n_true_match")),
            F.col("n_probed") - F.col("n_true_match"),
        )
        .cast("long")
        .alias("fp_ppm"),
    )


bloom_join_prune_probe.__doc__ = bloom_join_prune_probe.__doc__.format(
    m=_BLOOM_M, k=_BLOOM_K
)


# --------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch
# --------------------------------------------------------------------------

# k = 64 minimum hash values over a 2^32 hash space: the estimator
# (k-1)·2^32/h_k has expected relative error ~1/sqrt(k-2) ≈ 13%. The probe
# measures the actual error against the exact distinct count, and proves
# MERGEABILITY exactly: the k smallest of the union of per-group k-minimum
# sets IS the global k-minimum set, so the merged estimate must equal the
# global one bit-for-bit — asserted as a value, not a test.
_KMV_K = 64
_KMV_SPACE = 4294967296  # 2^32, the md5-8-hex-digit space


def _kmv_est_sql(src: str) -> str:
    # greatest(·, 1): h_k = 0 (a key hashing to exactly 0) is a 2^-32
    # event per key, but an unguarded integer division would turn it
    # into a query error instead of a (correctly enormous) estimate.
    return (
        f"(SELECT ({_KMV_K} - 1) * {_KMV_SPACE} // greatest(max(hv), 1) FROM {src})"
    )


@register(
    "kmv_distinct_merge_probe",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT {_h_sql('kmv', 'CAST(l_partkey AS VARCHAR)', _KMV_SPACE)} AS hv
      FROM lineitem
    ),
    g AS (SELECT hv FROM h ORDER BY hv LIMIT {_KMV_K}),
    byflag AS (
      SELECT hv,
             row_number() OVER (PARTITION BY flag ORDER BY hv) AS rn
      FROM (
        SELECT DISTINCT l_returnflag AS flag,
               {_h_sql('kmv', 'CAST(l_partkey AS VARCHAR)', _KMV_SPACE)} AS hv
        FROM lineitem
      ) t
    ),
    m AS (
      SELECT DISTINCT hv FROM byflag WHERE rn <= {_KMV_K}
      ORDER BY hv LIMIT {_KMV_K}
    ),
    est AS (
      SELECT (SELECT count(DISTINCT l_partkey) FROM lineitem) AS exact_distinct,
             {_kmv_est_sql('g')} AS kmv_estimate,
             {_kmv_est_sql('m')} AS merged_estimate
    )
    SELECT exact_distinct, kmv_estimate,
           (1000000 * abs(kmv_estimate - exact_distinct)) // exact_distinct AS err_ppm,
           merged_estimate,
           CASE WHEN merged_estimate = kmv_estimate THEN 1 ELSE 0 END AS merge_consistent
    FROM est
    """,
)
def kmv_distinct_merge_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch with its measured
    error AND an exact mergeability proof: keep the k smallest hash
    values of the key; estimate distinct ≈ (k-1)·2^32/h_k; separately
    build one sketch per l_returnflag partition and MERGE them (k
    smallest of the union of the per-group k-sets), which must
    reproduce the global sketch exactly — the property that makes KMV
    the per-partition-then-merge answer to COUNT DISTINCT at 100 TB
    (each partition ships k integers, never its keys).

    All arithmetic is integer: the md5 hash idiom gives the same 32-bit
    values in both engines, the estimator is one integer division, and
    the error is integer ppm. The per-group sketches come from one
    row_number window over the (flag, hash) distinct frame — at scale
    that frame is the pre-aggregated shuffle, bounded by distinct keys,
    and the k-truncation happens before any driver-side collection.
    """
    li = load_table(spark, sf_dir, "lineitem")
    hv = _h("kmv", F.col("l_partkey").cast("string"), _KMV_SPACE).alias("hv")
    h = li.select(hv).distinct()
    g = h.orderBy("hv").limit(_KMV_K)
    gk = g.agg(F.max("hv").alias("hk"))

    byflag = li.select(F.col("l_returnflag").alias("flag"), hv).distinct()
    w = Window.partitionBy("flag").orderBy("hv")
    kept = byflag.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= _KMV_K
    )
    m = kept.select("hv").distinct().orderBy("hv").limit(_KMV_K)
    mk = m.agg(F.max("hv").alias("hk_m"))

    exact = li.agg(F.countDistinct("l_partkey").alias("exact_distinct"))
    # greatest(·, 1) mirrors the oracle's zero-hash division guard.
    est = F.expr(
        f"({_KMV_K} - 1) * cast({_KMV_SPACE} as bigint) div greatest(hk, 1)"
    ).alias("kmv_estimate")
    est_m = F.expr(
        f"({_KMV_K} - 1) * cast({_KMV_SPACE} as bigint) div greatest(hk_m, 1)"
    ).alias("merged_estimate")
    out = exact.crossJoin(F.broadcast(gk)).crossJoin(F.broadcast(mk)).select(
        "exact_distinct", est, est_m
    )
    return out.select(
        "exact_distinct",
        "kmv_estimate",
        F.expr(
            "1000000 * abs(kmv_estimate - exact_distinct)"
            " div nullif(exact_distinct, 0)"
        ).alias("err_ppm"),
        "merged_estimate",
        F.when(F.col("merged_estimate") == F.col("kmv_estimate"), 1)
        .otherwise(0)
        .alias("merge_consistent"),
    )


# --------------------------------------------------------------------------
# CMS inner-product join-size estimation (the AMS F2 use of the sketch)
# --------------------------------------------------------------------------


@register(
    "cms_self_join_size_probe",
    oracle=f"""
    WITH keys AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
    exact AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(c * c) AS BIGINT) AS exact_self_join
      FROM (SELECT k, count(*) AS c FROM keys GROUP BY k)
    ),
    cells AS (
      {" UNION ALL ".join(
        f'''SELECT {r} AS row_id, {_h_sql(f'cms{r}', 'k', _CMS_W)} AS col_id,
               count(*) AS cell
        FROM keys GROUP BY col_id'''
        for r in range(_CMS_D)
      )}
    ),
    est AS (
      SELECT CAST(min(rowsum) AS BIGINT) AS cms_estimate
      FROM (SELECT row_id, sum(cell * cell) AS rowsum FROM cells GROUP BY row_id)
    )
    SELECT n_events, n_keys, exact_self_join, cms_estimate,
           cms_estimate - exact_self_join AS overestimate,
           (1000000 * (cms_estimate - exact_self_join)) // exact_self_join AS err_ppm
    FROM exact, est
    """,
)
def cms_self_join_size_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from the count-min sketch — the AMS-style
    second-moment use: the self-join size |R ⋈ R| on user_id equals
    Σ_k n_k², and min over sketch rows of Σ_col cell² estimates it
    without ever shuffling the keys (each row's Σ cell² is the inner
    product of the sketch row with itself; hash collisions only ADD
    cross terms, so the estimate is always ≥ exact — the same one-sided
    contract as the point-query probe). This is the statistic a
    cost-based optimizer wants before committing to a join order, priced
    at one fixed-size sketch instead of a key histogram.

    The exact side is one keyed count + Σ c² (map-side combinable);
    the sketch side folds the key space to d×w = {cells} counters.
    err_ppm is the measured one-sided error in integer ppm — at w ≫
    distinct keys it is near zero; at 100 TB key cardinalities the same
    probe quantifies exactly what the optimizer trades for the fixed
    budget. All hashes are the md5 idiom, so the oracle replays the
    sketch bit-for-bit.
    """
    e = load_table(spark, sf_dir, "events")
    keys = e.select(F.col("user_id").cast("string").alias("k"))
    per_key = keys.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
    exact = per_key.agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("exact_self_join"),
    )

    cell_structs = F.array(
        *[
            F.struct(
                F.lit(r).alias("row_id"), _h(f"cms{r}", F.col("k"), _CMS_W).alias("col_id")
            )
            for r in range(_CMS_D)
        ]
    )
    cells = (
        per_key.select(F.explode(cell_structs).alias("rc"), "c")
        .groupBy("rc.row_id", "rc.col_id")
        .agg(F.sum("c").alias("cell"))
    )
    est = (
        cells.groupBy("row_id")
        .agg(F.sum(F.col("cell") * F.col("cell")).alias("rowsum"))
        .agg(F.min("rowsum").cast("long").alias("cms_estimate"))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "n_events",
        "n_keys",
        "exact_self_join",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_self_join")).alias("overestimate"),
        F.expr(
            "1000000 * (cms_estimate - exact_self_join) div exact_self_join"
        ).alias("err_ppm"),
    )


cms_self_join_size_probe.__doc__ = cms_self_join_size_probe.__doc__.format(
    cells=_CMS_D * _CMS_W
)
