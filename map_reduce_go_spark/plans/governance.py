"""Data-governance audits: k-anonymity re-identification risk and exact
proportional sample allocation.

Reference parity: the reference engine's job surface is "run an audit
function over every record and reduce per class" (src/mr/worker.go:38's
two-hook contract); these plans are that shape expressed declaratively —
one map-side class projection, one keyed aggregate, a tiny report join.

Both queries follow the repo's oracle-portability discipline: all
arithmetic that crosses the value-hash boundary is integer (counts,
floor-div allocations, integer remainders), so DuckDB and Spark cannot
disagree on a single bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_go_spark.functions.hashing import md5_int, md5_int_sql
from map_reduce_go_spark.registry import register
from map_reduce_go_spark.sources.readers import load_table

# Re-identification thresholds audited by k_anonymity_audit. Shared with
# the oracle as literals so both engines group over the same spine.
K_THRESHOLDS = (2, 5, 10, 20)

# Sample budget for the largest-remainder allocator. Prime, and not a
# divisor of anything in the fixture, so remainders actually differ and
# the tie-ranked "+1" path is exercised rather than degenerate.
SAMPLE_BUDGET = 997

_K_VALUES_SQL = ", ".join(f"({k})" for k in K_THRESHOLDS)


@register(
    "k_anonymity_audit",
    oracle=f"""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
             count(*) AS k
      FROM customer
      GROUP BY 1, 2, 3
    )
    SELECT t.k_threshold,
           count(*) FILTER (WHERE k < t.k_threshold) AS n_classes_below,
           CAST(coalesce(sum(k) FILTER (WHERE k < t.k_threshold), 0) AS BIGINT)
             AS n_rows_at_risk,
           count(*) AS n_classes_total,
           CAST(min(k) AS BIGINT) AS min_class_size
    FROM classes CROSS JOIN (VALUES {_K_VALUES_SQL}) AS t(k_threshold)
    GROUP BY t.k_threshold
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple
    (nation, market segment, account-balance kilobucket): for each
    re-identification threshold k, how many equivalence classes have
    fewer than k members and how many customers sit in them. The
    standard privacy screen run before releasing a training extract —
    a class of size 1 IS a person.

    ONE scan builds the classes (map-side projection + keyed count);
    the threshold spine is a 4-row broadcast cross join over the class
    rollup, which is orders of magnitude smaller than the customer
    table, so the report step is free at any scale. The balance bucket
    comes from floor(x/1000.0) — the identical IEEE double expression
    on both engines — and everything downstream is integer counts.
    """
    customer = load_table(spark, sf_dir, "customer")
    classes = (
        customer.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("k"))
    )
    thresholds = spark.createDataFrame(
        [(k,) for k in K_THRESHOLDS], "k_threshold int"
    )
    return (
        classes.crossJoin(F.broadcast(thresholds))
        .groupBy("k_threshold")
        .agg(
            F.count(F.when(F.col("k") < F.col("k_threshold"), 1)).alias(
                "n_classes_below"
            ),
            F.coalesce(
                F.sum(F.when(F.col("k") < F.col("k_threshold"), F.col("k"))),
                F.lit(0),
            )
            .cast("long")
            .alias("n_rows_at_risk"),
            F.count(F.lit(1)).alias("n_classes_total"),
            F.min("k").cast("long").alias("min_class_size"),
        )
    )


def largest_remainder_alloc(weights: DataFrame, budget: int) -> DataFrame:
    """Hamilton apportionment core over a (source, weight_chars) frame:
    integer floor quotas, then the ``budget − Σ floor`` leftover units go
    to the largest remainders (ties by source name). Exact-quota by
    construction: every allocation is within 1 of its real-valued quota
    and the total is exactly ``budget``. All arithmetic is BIGINT
    floor-div/modulo — partitioning- and engine-invariant; the global
    window runs over the source rollup, where Exchange SinglePartition
    is free. Hypothesis-tested on generated weight sets against a pure-
    Python apportioner."""
    from map_reduce_go_spark.functions.caching import tracked_cache

    # weights feeds the total AND the quota projection — cache the
    # source-cardinality rollup so the fact scan below it runs once.
    weights = tracked_cache(weights)
    total = weights.agg(F.sum("weight_chars").alias("total_w"))
    quota = weights.crossJoin(F.broadcast(total)).select(
        "source",
        "weight_chars",
        F.expr(f"(weight_chars * {int(budget)}) div total_w").alias("base_alloc"),
        ((F.col("weight_chars") * int(budget)) % F.col("total_w")).alias(
            "remainder"
        ),
    )
    w_rank = Window.orderBy(F.desc("remainder"), F.asc("source"))
    ranked = quota.select(
        "source",
        "weight_chars",
        "base_alloc",
        F.row_number().over(w_rank).alias("r"),
        (
            F.lit(int(budget)) - F.sum("base_alloc").over(Window.partitionBy())
        ).alias("extras"),
    )
    return ranked.select(
        "source",
        "weight_chars",
        "base_alloc",
        (
            F.col("base_alloc")
            + F.when(F.col("r") <= F.col("extras"), 1).otherwise(0)
        )
        .cast("long")
        .alias("final_alloc"),
    )


@register(
    "sample_allocation_largest_remainder",
    oracle=f"""
    WITH weights AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS weight_chars
      FROM documents GROUP BY source
    ),
    quota AS (
      SELECT source, weight_chars,
             CAST((weight_chars * {SAMPLE_BUDGET}) // (SELECT sum(weight_chars) FROM weights)
               AS BIGINT) AS base_alloc,
             CAST((weight_chars * {SAMPLE_BUDGET}) % (SELECT sum(weight_chars) FROM weights)
               AS BIGINT) AS remainder
      FROM weights
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY remainder DESC, source ASC) AS r,
             {SAMPLE_BUDGET} - sum(base_alloc) OVER () AS extras
      FROM quota
    )
    SELECT source, weight_chars, base_alloc,
           base_alloc + CASE WHEN r <= extras THEN 1 ELSE 0 END AS final_alloc
    FROM ranked
    """,
)
def sample_allocation_largest_remainder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact proportional allocation of a fixed sample budget across
    sources by the largest-remainder (Hamilton) method, weighted by
    corpus characters: floor quotas first, then the leftover units go
    to the largest fractional remainders (ties broken by source name).
    This is how a training-mix planner turns "sample 997 docs
    proportionally to corpus size" into per-source integers that
    provably sum to the budget — naive rounding over- or under-shoots.

    The fact-table work is one map-side-combinable sum per source; the
    apportionment runs over the 20-row source rollup, where the global
    window (Exchange SinglePartition) is free. Quotas are integer
    floor-div and modulo on BIGINTs — bit-identical across engines —
    and tests assert sum(final_alloc) == budget exactly.
    """
    docs = load_table(spark, sf_dir, "documents")
    weights = docs.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("weight_chars")
    )
    return largest_remainder_alloc(weights, SAMPLE_BUDGET)


# Reconciliation knobs, shared with the oracle.
CHECKSUM_BUCKETS = 64
# An order row's business columns, canonicalized: key|status|cents|ISO date.
_ROW_KEY_SQL = """CAST(o_orderkey AS VARCHAR) || '|'
                   || o_orderstatus || '|'
                   || CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR)
                   || '|' || CAST(CAST(o_orderdate AS DATE) AS VARCHAR)"""


@register(
    "table_checksum_buckets",
    oracle=f"""
    WITH hashed AS (
      SELECT o_orderkey % {CHECKSUM_BUCKETS} AS bucket,
             {md5_int_sql(_ROW_KEY_SQL)} AS row_hash
      FROM orders
    )
    SELECT bucket, count(*) AS n_rows,
           CAST(sum(row_hash) AS BIGINT) AS checksum,
           CAST(min(row_hash) AS BIGINT) AS min_hash,
           CAST(max(row_hash) AS BIGINT) AS max_hash
    FROM hashed GROUP BY bucket
    """,
)
def table_checksum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed table checksums for cross-system reconciliation: every
    order row hashes its business columns to a 32-bit digest, digests
    roll up into 64 key-bucketed (count, sum, min, max) fingerprints.
    Two copies of the table (replica, post-migration, vendor export)
    compare 64 rows instead of the full table, and a mismatched bucket
    localizes the diff to 1/64th of the keyspace for row-level triage —
    the standard divide-and-conquer data-reconciliation protocol.

    Canonicalization is the engine-parity discipline in miniature: the
    price enters the hash as exact integer cents and the date as its
    ISO string, so the digest is a pure function of VALUES, never of
    engine float formatting. One scan, one map-side hash, one
    64-group aggregate — the sum-checksum is order-independent by
    construction, so the fingerprint is partitioning-proof.
    """
    o = load_table(spark, sf_dir, "orders")
    row_hash = md5_int(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            F.floor(F.col("o_totalprice") * 100).cast("long").cast("string"),
            F.col("o_orderdate").cast("date").cast("string"),
        )
    )
    return (
        o.select(
            (F.col("o_orderkey") % CHECKSUM_BUCKETS).alias("bucket"),
            row_hash.alias("row_hash"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("row_hash").cast("long").alias("checksum"),
            F.min("row_hash").cast("long").alias("min_hash"),
            F.max("row_hash").cast("long").alias("max_hash"),
        )
    )


# GDPR erasure-impact knobs, shared with the oracle.
GDPR_SAMPLE_MOD = 20  # simulate erasure for ~5% of customers


@register(
    "gdpr_delete_impact",
    oracle=f"""
    WITH erased AS (
      SELECT c_custkey FROM customer
      WHERE {md5_int_sql("'gdpr|' || CAST(c_custkey AS VARCHAR)")}
            % {GDPR_SAMPLE_MOD} = 0
    ),
    ord AS (
      SELECT o.o_orderkey FROM orders o JOIN erased e ON e.c_custkey = o.o_custkey
    )
    SELECT * FROM (
      SELECT 'customer' AS table_name, count(*) AS n_rows_affected,
             (SELECT count(*) FROM customer) AS n_rows_total FROM erased
      UNION ALL
      SELECT 'orders', count(*), (SELECT count(*) FROM orders) FROM ord
      UNION ALL
      SELECT 'lineitem', count(*), (SELECT count(*) FROM lineitem)
      FROM lineitem l JOIN ord ON ord.o_orderkey = l.l_orderkey
    )
    """,
)
def gdpr_delete_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure-impact analysis (GDPR article-17 dry run): for a
    deterministic 5% sample of customers requesting deletion, how many
    rows in each downstream table the cascade would touch — the report
    a data-platform team runs BEFORE executing erasure, to size the
    rewrite and verify the cascade path (customer → orders → lineitem)
    is complete.

    The cascade is two hash joins along the FK chain, each co-keyed on
    its join key; affected-key sets stay keys-only (never row payloads)
    — at 100 TB the erased-customer set is the only state carried
    between tables, the same keys-only discipline as
    pipeline_stage_attrition's stage boundaries. Totals are per-table
    scalar aggregates; output is 3 rows.
    """
    from map_reduce_go_spark.functions.caching import tracked_cache

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    erased = c.where(
        md5_int(F.concat_ws("|", F.lit("gdpr"), F.col("c_custkey").cast("string")))
        % GDPR_SAMPLE_MOD
        == 0
    ).select("c_custkey")
    # Cache the keys-only cascade frontiers (the docstring's keys-only
    # discipline made literal): uncached, each downstream branch
    # re-planned its parent's scan — 9 fact scans (plan-audited).
    erased = tracked_cache(erased)
    ord_ = o.join(
        erased, o["o_custkey"] == erased["c_custkey"], "left_semi"
    ).select("o_orderkey")
    ord_ = tracked_cache(ord_)
    li_aff = li.join(
        ord_, li["l_orderkey"] == ord_["o_orderkey"], "left_semi"
    )
    rows = [
        erased.agg(F.count(F.lit(1)).alias("n_rows_affected")).crossJoin(
            F.broadcast(c.agg(F.count(F.lit(1)).alias("n_rows_total")))
        ).select(F.lit("customer").alias("table_name"), "n_rows_affected", "n_rows_total"),
        ord_.agg(F.count(F.lit(1)).alias("n_rows_affected")).crossJoin(
            F.broadcast(o.agg(F.count(F.lit(1)).alias("n_rows_total")))
        ).select(F.lit("orders").alias("table_name"), "n_rows_affected", "n_rows_total"),
        li_aff.agg(F.count(F.lit(1)).alias("n_rows_affected")).crossJoin(
            F.broadcast(li.agg(F.count(F.lit(1)).alias("n_rows_total")))
        ).select(F.lit("lineitem").alias("table_name"), "n_rows_affected", "n_rows_total"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


SHORT_DOC_CHARS = 100


@register(
    "dataset_card_by_source",
    oracle=f"""
    WITH lang_counts AS (
      SELECT source, lang, count(*) AS cnt
      FROM documents GROUP BY source, lang
    ),
    top_lang AS (
      SELECT lc.source, min(lc.lang) AS top_lang
      FROM lang_counts lc
      JOIN (SELECT source, max(cnt) AS mc FROM lang_counts GROUP BY source) m
        ON lc.source = m.source AND lc.cnt = m.mc
      GROUP BY lc.source
    ),
    card AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             count(DISTINCT lang) AS n_langs,
             count(DISTINCT md5(text)) AS distinct_texts,
             CAST(coalesce(sum(CASE WHEN n_chars < {SHORT_DOC_CHARS}
                                    THEN 1 END), 0) AS BIGINT) AS n_short
      FROM documents GROUP BY source
    )
    SELECT c.source, c.n_docs, c.total_chars,
           CAST(c.total_chars // c.n_docs AS BIGINT) AS mean_chars,
           c.n_langs, t.top_lang,
           CAST(1000000 * (c.n_docs - c.distinct_texts) // c.n_docs
                AS BIGINT) AS dup_ppm,
           CAST(1000000 * c.n_short // c.n_docs AS BIGINT) AS short_ppm
    FROM card c JOIN top_lang t ON c.source = t.source
    """,
)
def dataset_card_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card — the one-page summary a dataset release
    ships (and the first thing a pipeline owner reads before mixing a
    source into training data): document count, character mass, mean doc
    length, language spread, dominant language, exact-duplicate rate and
    short-doc rate, all as exact integers (ppm for rates).

    Scale shape: ONE pass over the fact builds the per-source card
    (count/sum/when are map-side combinable; the two count-DISTINCTs are
    two-phase partial aggregates over (source, lang) and (source, md5) —
    digest-only shuffles, never document text); the dominant-language
    pick is a (source, lang)-rollup argmax joined back, all
    metadata-sized. Ties on the dominant language break to the
    lexicographically smallest language on both engines.
    """
    from map_reduce_go_spark.functions.caching import tracked_cache

    docs = load_table(spark, sf_dir, "documents")
    # The (source, lang) rollup feeds the max frame AND the argmax join;
    # cache the rollup (metadata-sized), never the fact (scan-count
    # audited -- the card agg itself is the one text-bearing pass).
    lang_counts = tracked_cache(
        docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    )
    mx = lang_counts.groupBy("source").agg(F.max("cnt").alias("mc")).select(
        F.col("source").alias("m_src"), "mc"
    )
    top = (
        lang_counts.join(
            F.broadcast(mx),
            (F.col("source") == F.col("m_src")) & (F.col("cnt") == F.col("mc")),
        )
        .select(F.col("source").alias("src"), "lang")
        .groupBy("src")
        .agg(F.min("lang").alias("top_lang"))
    )
    card = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct(F.md5("text")).alias("distinct_texts"),
        F.coalesce(
            F.sum(F.when(F.col("n_chars") < SHORT_DOC_CHARS, 1)), F.lit(0)
        )
        .cast("long")
        .alias("n_short"),
    )
    return card.join(F.broadcast(top), card.source == top.src).select(
        "source",
        "n_docs",
        "total_chars",
        F.expr("CAST(total_chars div n_docs AS BIGINT)").alias("mean_chars"),
        "n_langs",
        "top_lang",
        F.expr(
            "CAST(1000000 * (n_docs - distinct_texts) div n_docs AS BIGINT)"
        ).alias("dup_ppm"),
        F.expr("CAST(1000000 * n_short div n_docs AS BIGINT)").alias("short_ppm"),
    )
