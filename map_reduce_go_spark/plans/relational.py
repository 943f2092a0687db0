"""Relational breadth on the driver star schema (SURVEY.md §7.2 M3).

The reference has no joins, windows, rollups, or scalar-function library
(SURVEY.md §2.5 — absences verified line-by-line); the north star requires
the full relational surface at Spark altitude. Every query here is a
declarative DataFrame plan with a DuckDB oracle.

Determinism contract with the oracle: monetary aggregates are summed as
DECIMAL(18,4) (exact, order-independent) and cast back to double at the
end, so Spark's and DuckDB's different summation orders cannot produce
ULP-different results. Derived stats (avg, stddev) are computed *from* the
exact sums with identical double arithmetic on both sides.

Scale notes (100 TB):
- fact⋈fact joins (lineitem⋈orders) shuffle on the join key; AQE handles
  skew. At a fixed warehouse layout you would bucket both tables by
  orderkey to eliminate this shuffle entirely.
- dimension joins broadcast (explicit F.broadcast on region/nation —
  constant-size; customer/supplier left to AQE's size-based choice so the
  plan stays correct when those grow with SF).
- window functions partition by bounded keys (brand, custkey); no global
  single-partition windows anywhere.
- top-k = orderBy+limit, which Spark executes as per-partition top-k +
  single merge of k·p rows (TakeOrderedAndProject), never a full sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_go_spark.functions.hashing import md5_int_expr, md5_int_sql
from map_reduce_go_spark.registry import register
from map_reduce_go_spark.sources.readers import load_table


def dsum(c: str | Column) -> Column:
    """Exact order-independent sum of a money column (see module docstring).

    Scale 6 because derived money expressions (price × discount × tax, each
    2 dp) carry exactly 6 decimal digits: the cast is lossless, so neither
    engine's rounding mode (Spark HALF_UP vs DuckDB HALF_EVEN) is exercised.
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.sum(col.cast("decimal(24,6)")).cast("double")


def _dsum_sql(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(24,6))) AS DOUBLE)"


# --------------------------------------------------------------------------
# Aggregation
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum_sql('l_quantity')} AS sum_qty,
           {_dsum_sql('l_extendedprice')} AS sum_base_price,
           {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {_dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           count(*) AS count_order,
           round({_dsum_sql('l_quantity')} / count(*), 6) AS avg_qty,
           round({_dsum_sql('l_extendedprice')} / count(*), 6) AS avg_price
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: scan-heavy grouped aggregation.

    The plan Catalyst picks: parquet scan with shipdate filter pushed down +
    only 8 of 11 columns read, partial hash-agg map-side (6 groups), tiny
    final shuffle. This is the reference wordcount pattern at relational
    altitude — the combiner the reference lacks matters most here.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-12-01").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum(disc).alias("sum_disc_price"),
        dsum(charge).alias("sum_charge"),
        F.count(F.lit(1)).alias("count_order"),
        F.round(dsum("l_quantity") / F.count(F.lit(1)), 6).alias("avg_qty"),
        F.round(dsum("l_extendedprice") / F.count(F.lit(1)), 6).alias("avg_price"),
    )


@register(
    "agg_stats_per_nation",
    oracle=f"""
    SELECT n.n_name,
           count(*) AS n_customers,
           {_dsum_sql('c.c_acctbal')} AS sum_bal,
           round({_dsum_sql('c.c_acctbal')} / count(*), 6) AS avg_bal,
           round(CAST(min(c.c_acctbal) AS DOUBLE), 6) AS min_bal,
           round(CAST(max(c.c_acctbal) AS DOUBLE), 6) AS max_bal,
           round(sqrt(greatest(0.0,
             ({_dsum_sql('c.c_acctbal * c.c_acctbal')}
              - {_dsum_sql('c.c_acctbal')} * {_dsum_sql('c.c_acctbal')} / count(*))
             / (count(*) - 1))), 6) AS stddev_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def agg_stats_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/avg/stddev per group. stddev is derived from exact decimal
    sums (sqrt((Σx² − (Σx)²/n)/(n−1))) so both engines do identical double
    arithmetic — see module docstring."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    cnt = F.count(F.lit(1))
    sx = dsum("c_acctbal")
    sxx = dsum(F.col("c_acctbal") * F.col("c_acctbal"))
    return j.groupBy("n_name").agg(
        cnt.alias("n_customers"),
        sx.alias("sum_bal"),
        F.round(sx / cnt, 6).alias("avg_bal"),
        F.round(F.min("c_acctbal").cast("double"), 6).alias("min_bal"),
        F.round(F.max("c_acctbal").cast("double"), 6).alias("max_bal"),
        F.round(
            F.sqrt(F.greatest(F.lit(0.0), (sxx - sx * sx / cnt) / (cnt - 1))), 6
        ).alias("stddev_bal"),
    )


@register(
    "count_distinct_custkey",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def count_distinct_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct per group (Catalyst expands to a two-phase
    aggregate; at 100 TB prefer approx_count_distinct — see
    approx_distinct_probe)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "approx_distinct_probe",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS exact_customers,
           TRUE AS within_tol
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def approx_distinct_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ count-distinct — the 100 TB path (no exact-distinct
    shuffle expansion). The sketch estimate itself is engine-specific, so
    the checked projection is the HLL accuracy CONTRACT: ``within_tol`` is
    computed from the estimate vs the exact count at 3× the configured rsd
    (0.01) and must come back TRUE for every group — the oracle asserts the
    same groups, exact counts, and an unconditional TRUE. A broken sketch
    (or a broken rsd plumbing) flips the hash."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("exact_customers"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey", rsd=0.01)
                - F.countDistinct("o_custkey")
            )
            <= 0.03 * F.countDistinct("o_custkey")
        ).alias("within_tol"),
    )


@register(
    "rollup_lineitem_flags",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_items,
           {_dsum_sql('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag, flag+status, grand total)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"), dsum("l_quantity").alias("sum_qty")
    )


@register(
    "cube_orders_status_priority",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           {_dsum_sql('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_orders_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions — all 4 grouping sets in one pass."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("sum_price")
    )


@register(
    "grouping_sets_nation_segment",
    oracle=f"""
    SELECT c_nationkey, c_mktsegment,
           count(*) AS n_customers,
           {_dsum_sql('c_acctbal')} AS sum_bal
    FROM customer
    GROUP BY GROUPING SETS ((c_nationkey), (c_mktsegment))
    """,
)
def grouping_sets_nation_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL (DataFrame API has no direct
    grouping-sets builder; SQL keeps the plan declarative)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        SELECT c_nationkey, c_mktsegment,
               count(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        FROM v_customer
        GROUP BY GROUPING SETS ((c_nationkey), (c_mktsegment))
        """
    )


@register(
    "conditional_agg_pivot",
    oracle=f"""
    SELECT o_orderpriority,
           {_dsum_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END")} AS fulfilled,
           {_dsum_sql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END")} AS open_,
           {_dsum_sql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END")} AS pending
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def conditional_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot via conditional aggregation (portable form of df.pivot —
    single pass, no extra shuffle)."""
    o = load_table(spark, sf_dir, "orders")

    def bucket(status: str) -> Column:
        return dsum(
            F.when(F.col("o_orderstatus") == status, F.col("o_totalprice")).otherwise(0)
        )

    return o.groupBy("o_orderpriority").agg(
        bucket("F").alias("fulfilled"),
        bucket("O").alias("open_"),
        bucket("P").alias("pending"),
    )


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------


@register(
    "q3_top_revenue_orders",
    oracle=f"""
    SELECT l.l_orderkey, {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: selective dim filter -> fact⋈fact join -> top-k.

    customer(filtered) joins orders (AQE broadcasts when small enough),
    then orders⋈lineitem shuffles on orderkey. Top-k executes as
    TakeOrderedAndProject (per-partition heap + merge), never a full sort.
    orderkey tie-break makes LIMIT deterministic for the oracle.
    """
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderpriority")
    )


@register(
    "q5_region_revenue",
    oracle=f"""
    SELECT n.n_name, {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-way join: local-supplier revenue per nation of one
    region. region/nation explicitly broadcast (constant-size at any SF);
    the supplier join carries the colocation predicate s_nationkey =
    c_nationkey exactly as Q5 specifies."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(revenue).alias("revenue"))
    )


@register(
    "semi_join_customers_with_purchases",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    """,
)
def semi_join_customers_with_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join — EXISTS semantics, no duplication, right side never
    materialized into the output."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "anti_join_parts_never_ordered",
    oracle="""
    SELECT p_partkey, p_name
    FROM part p
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45)
    """,
)
def anti_join_parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join — NOT EXISTS semantics. The quantity predicate keeps
    the result non-empty at every fixture SF (a 0-row result would make the
    oracle comparison vacuous)."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return p.join(li, p.p_partkey == li.l_partkey, "left_anti").select(
        "p_partkey", "p_name"
    )


@register(
    "outer_join_nation_customer_counts",
    oracle="""
    SELECT n.n_name, count(c.c_custkey) AS n_customers
    FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def outer_join_nation_customer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving empty nations (count(col) skips nulls)."""
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    return (
        n.join(c, c.c_nationkey == n.n_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )


# --------------------------------------------------------------------------
# Windows, top-k, sort, set ops
# --------------------------------------------------------------------------


@register(
    "window_topk_parts_per_brand",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, rn FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey) AS rn
      FROM part) t
    WHERE rn <= 3
    """,
)
def window_topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via ranking window; partition key (brand) is bounded
    so no partition exceeds executor memory at scale."""
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    return (
        p.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rn")
    )


@register(
    "window_running_customer_spend",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_spend,
           CAST(lag(CAST(o_totalprice AS DECIMAL(18,4)), 1)
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                AS DOUBLE) AS prev_price
    FROM orders
    """,
)
def window_running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows: running sum + lag per customer ordered by time.
    Decimal accumulation keeps the running sum prefix-exact on both engines."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dec = F.col("o_totalprice").cast("decimal(18,4)")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("running_spend"),
        F.lag(dec, 1).over(w).cast("double").alias("prev_price"),
    )


@register(
    "top20_orders_by_price",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def top20_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: TakeOrderedAndProject, not a total sort."""
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "set_ops_nation_presence",
    oracle="""
    SELECT nk, 'both' AS presence FROM
      (SELECT c_nationkey AS nk FROM customer
       INTERSECT SELECT s_nationkey FROM supplier) t
    UNION ALL
    SELECT nk, 'customer_only' FROM
      (SELECT c_nationkey AS nk FROM customer
       EXCEPT SELECT s_nationkey FROM supplier) t
    """,
)
def set_ops_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL in one result."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    both = c.intersect(s).withColumn("presence", F.lit("both"))
    only = c.subtract(s).withColumn("presence", F.lit("customer_only"))
    return both.unionByName(only)


@register(
    "distinct_sorted_segments",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def distinct_sorted_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT over a composite key."""
    return load_table(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


# --------------------------------------------------------------------------
# Scalar function library
# --------------------------------------------------------------------------


@register(
    "scalar_string_functions",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS up_name,
           lower(p_brand) AS low_brand,
           length(p_name) AS name_len,
           substring(p_type, 1, 3) AS type_prefix,
           replace(p_brand, 'Brand#', 'B') AS brand_short,
           concat(p_brand, ':', p_type) AS brand_type,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded_size,
           contains(p_name, 'a') AS has_a,
           trim(p_name) AS trimmed
    FROM part
    """,
)
def scalar_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function library parity (the reference buries all string ops
    inside app UDFs — SURVEY.md §2.3; here they are JVM built-ins)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up_name"),
        F.lower("p_brand").alias("low_brand"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 3).alias("type_prefix"),
        F.replace(F.col("p_brand"), F.lit("Brand#"), F.lit("B")).alias("brand_short"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded_size"),
        F.contains(F.col("p_name"), F.lit("a")).alias("has_a"),
        F.trim(F.col("p_name")).alias("trimmed"),
    )


@register(
    "scalar_datetime_functions",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mo,
           day(o_orderdate) AS dy,
           quarter(o_orderdate) AS qtr,
           CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT) AS month_start_epoch,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since_epoch_start
    FROM orders
    """,
)
def scalar_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function parity. Epochs are emitted as BIGINT seconds so
    both engines compare tz-free (session tz pinned to UTC)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dy"),
        F.quarter("o_orderdate").alias("qtr"),
        F.unix_timestamp(F.date_trunc("month", F.col("o_orderdate")))
        .cast("long")
        .alias("month_start_epoch"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("long")
        .alias("days_since_epoch_start"),
    )


@register(
    "scalar_math_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(abs(l_discount - 0.05), 6) AS abs_disc,
           CAST(ceil(l_quantity) AS BIGINT) AS ceil_qty,
           CAST(floor(l_quantity / 7) AS BIGINT) AS floor_qty_bucket,
           round(sqrt(l_extendedprice), 6) AS sqrt_price,
           round(ln(l_extendedprice + 1), 6) AS ln_price,
           round(pow(1 - l_discount, 2), 6) AS sq_keep,
           CAST(l_partkey % 16 AS BIGINT) AS partkey_mod
    FROM lineitem
    """,
)
def scalar_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function parity; results rounded to 6 dp (single-input libm
    calls are bit-identical across both engines in practice; rounding guards
    the comparison)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("abs_disc"),
        F.ceil("l_quantity").alias("ceil_qty"),
        F.floor(F.col("l_quantity") / 7).alias("floor_qty_bucket"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("sqrt_price"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("ln_price"),
        F.round(F.pow(1 - F.col("l_discount"), 2), 6).alias("sq_keep"),
        (F.col("l_partkey") % 16).cast("long").alias("partkey_mod"),
    )


@register(
    "array_functions_showcase",
    oracle="""
    SELECT p_partkey,
           len(string_split(p_type, ' ')) AS n_words,
           list_contains(string_split(p_type, ' '), 'PROMO') AS is_promo,
           to_json(list_sort(string_split(p_type, ' '))) AS sorted_words_json,
           array_to_string(list_sort(string_split(p_type, ' ')), '-') AS joined
    FROM part
    """,
)
def array_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function parity: split/size/contains/sort/join (the reference's
    only collection type is the reduce value list — SURVEY.md §1.2).

    The sorted array ships as its canonical JSON form (`to_json`) rather
    than a raw ArrayType column: nested types don't survive the driver's
    pandas canonicalizer (unhashable list), and at 100 TB the same rule
    applies to any sink whose consumers expect scalar columns."""
    p = load_table(spark, sf_dir, "part")
    words = F.split(F.col("p_type"), " ")
    return p.select(
        "p_partkey",
        F.size(words).alias("n_words"),
        F.array_contains(words, "PROMO").alias("is_promo"),
        F.to_json(F.sort_array(words)).alias("sorted_words_json"),
        F.concat_ws("-", F.sort_array(words)).alias("joined"),
    )


@register(
    "json_extract_events",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_value
    FROM events
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events props payload (from_json with an
    explicit schema — schema-on-read, no inference at scale)."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.from_json(F.col("props"), "k BIGINT").getField("k").alias("k_value"),
    )


# --------------------------------------------------------------------------
# Additional TPC-H-shaped plans and subquery surface
# --------------------------------------------------------------------------


@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {_dsum_sql('l_extendedprice * l_discount')} AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped: pure filter + global aggregate — the canonical
    predicate-pushdown showcase (every predicate reaches the parquet scan;
    zero shuffle beyond the single-row final agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q14_promo_revenue_share",
    oracle=f"""
    SELECT round(
             100.0 * {_dsum_sql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
             / {_dsum_sql('l_extendedprice * (1 - l_discount)')}, 6) AS promo_share,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1996-07-01'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: promo revenue share. part joins via AQE's
    size-based choice (broadcast at small SF, shuffle when part grows)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(0)
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * dsum(promo_rev) / dsum(rev), 6).alias("promo_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q18_large_volume_orders",
    oracle=f"""
    SELECT c.c_name, o.o_orderkey,
           CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS order_epoch,
           {_dsum_sql('l.l_quantity')} AS total_qty
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate
    HAVING SUM(l.l_quantity) > 150
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: large-volume orders (group + HAVING over a
    fact⋈fact join).

    The aggregate runs BEFORE the joins: o_orderkey is unique in orders,
    so grouping lineitem by l_orderkey alone is equivalent to the
    SQL-literal group over the joined row (c_name/o_orderdate are
    functionally dependent on the key) — and the HAVING filter then
    shrinks the join input from every line item to only the large orders.
    At 100 TB this is the difference between shuffling the whole lineitem
    table through two joins and joining a tiny survivor set (the
    orders/customer joins typically flip to broadcast under AQE).
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("total_qty"), F.sum("l_quantity").alias("_raw"))
        .where(F.col("_raw") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.unix_timestamp(F.col("o_orderdate")).alias("order_epoch"),
            "total_qty",
        )
    )


@register(
    "median_price_per_segment",
    oracle="""
    SELECT c_mktsegment,
           round(quantile_cont(o_totalprice, 0.5), 6) AS median_price,
           round(quantile_cont(o_totalprice, 0.9), 6) AS p90_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c_mktsegment
    """,
)
def median_price_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark percentile ==
    DuckDB quantile_cont semantics)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 6).alias("median_price"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 6).alias("p90_price"),
        )
    )


@register(
    "correlated_subquery_above_nation_avg",
    oracle="""
    SELECT c_custkey, c_nationkey, round(c_acctbal, 6) AS acctbal
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
    """,
)
def correlated_subquery_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (customers above their nation's average
    balance) — expressed as SQL so Catalyst's decorrelation rewrites it to
    an aggregate + join; the oracle runs the identical query."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_cust_sub")
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey, round(c_acctbal, 6) AS acctbal
        FROM v_cust_sub c
        WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM v_cust_sub c2
                           WHERE c2.c_nationkey = c.c_nationkey)
        """
    )


@register(
    "scalar_regex_functions",
    oracle=r"""
    SELECT p_partkey,
           regexp_extract(p_brand, '[0-9]+', 0) AS brand_num,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           regexp_matches(p_type, '^(PROMO|ECONOMY)') AS is_cheap_tier,
           len(regexp_extract_all(p_name, '[A-Za-z]+')) AS n_name_words
    FROM part
    """,
)
def scalar_regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex function parity: extract, global replace, match-test,
    extract-all. (Spark regexp_extract group 0 == DuckDB's; Spark rlike
    is unanchored search like DuckDB regexp_matches.)"""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract(F.col("p_brand"), "[0-9]+", 0).alias("brand_num"),
        F.regexp_replace(F.col("p_name"), "[aeiou]", "_").alias("devoweled"),
        F.col("p_type").rlike("^(PROMO|ECONOMY)").alias("is_cheap_tier"),
        F.size(F.regexp_extract_all(F.col("p_name"), F.lit("[A-Za-z]+"), 0)).alias(
            "n_name_words"
        ),
    )


@register(
    "null_handling_functions",
    oracle="""
    SELECT n.n_nationkey,
           coalesce(c.c_name, '<no customers>') AS any_customer,
           nullif(n.n_regionkey, 0) AS region_or_null,
           CASE WHEN c.c_custkey IS NULL THEN 'empty' ELSE 'has' END AS has_customers,
           least(n.n_nationkey, coalesce(c.c_nationkey, 999)) AS least_key,
           greatest(n.n_nationkey, coalesce(c.c_nationkey, -1)) AS greatest_key
    FROM nation n
    LEFT JOIN (SELECT c_nationkey, min(c_custkey) AS c_custkey,
                      min(c_name) AS c_name, min(c_nationkey) AS c_nationkey
               FROM customer GROUP BY c_nationkey) c
      ON c.c_nationkey = n.n_nationkey
    """,
)
def null_handling_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling surface over an outer join that actually produces
    NULLs: coalesce, nullif, IS NULL, least/greatest."""
    n = load_table(spark, sf_dir, "nation")
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.min("c_custkey").alias("c_custkey"),
            F.min("c_name").alias("c_name"),
            F.min("c_nationkey").alias("c_nationkey_min"),
        )
    )
    j = n.join(c, c.c_nationkey == n.n_nationkey, "left")
    return j.select(
        "n_nationkey",
        F.coalesce(F.col("c_name"), F.lit("<no customers>")).alias("any_customer"),
        F.nullif(F.col("n_regionkey"), F.lit(0)).alias("region_or_null"),
        F.when(F.col("c_custkey").isNull(), "empty").otherwise("has").alias(
            "has_customers"
        ),
        F.least(F.col("n_nationkey"), F.coalesce(F.col("c_nationkey_min"), F.lit(999))).alias(
            "least_key"
        ),
        F.greatest(
            F.col("n_nationkey"), F.coalesce(F.col("c_nationkey_min"), F.lit(-1))
        ).alias("greatest_key"),
    )


@register(
    "set_ops_all_variants",
    oracle="""
    SELECT k, 'except_all' AS op FROM (
      SELECT o_custkey AS k FROM orders
      EXCEPT ALL
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000) t
    UNION ALL
    SELECT k, 'intersect_all' FROM (
      SELECT o_custkey AS k FROM orders
      INTERSECT ALL
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000) t
    """,
)
def set_ops_all_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set ops (EXCEPT ALL / INTERSECT ALL): bag semantics that
    distinct-based set ops cannot express — each customer-side occurrence
    cancels exactly one order-side occurrence. Spark plans both as
    aggregate-count + generate (no join explosion)."""
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("k"))
    )
    ex = o.exceptAll(c).withColumn("op", F.lit("except_all"))
    inter = o.intersectAll(c).withColumn("op", F.lit("intersect_all"))
    return ex.unionByName(inter)


@register(
    "map_functions_probe",
    oracle="""
    WITH t AS (
      SELECT p_partkey,
             list_distinct(string_split(p_type, ' ')) AS words
      FROM part
    )
    SELECT p_partkey,
           len(words) AS n_entries,
           length(words[1]) AS first_word_len,
           list_contains(words, 'PROMO') AS has_promo,
           array_to_string(list_sort(words), ',') AS sorted_keys
    FROM t
    """,
)
def map_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: build word->length map per part, then probe it
    with size / element_at / map_contains_key / sorted map_keys. The
    oracle computes the same scalars straight from the word list (DuckDB
    MAP renders differently through pandas; the probed scalars are the
    portable contract)."""
    p = load_table(spark, sf_dir, "part")
    words = F.array_distinct(F.split(F.col("p_type"), " "))
    t = p.select("p_partkey", words.alias("words")).withColumn(
        "m", F.map_from_arrays(F.col("words"), F.transform(F.col("words"), F.length))
    )
    return t.select(
        "p_partkey",
        F.size("m").alias("n_entries"),
        F.element_at(F.col("m"), F.col("words")[0]).alias("first_word_len"),
        F.map_contains_key(F.col("m"), F.lit("PROMO")).alias("has_promo"),
        F.concat_ws(",", F.array_sort(F.map_keys(F.col("m")))).alias("sorted_keys"),
    )


@register(
    "unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, metric, CAST(val AS DOUBLE) AS val
    FROM (
      UNPIVOT (SELECT p_partkey,
                      CAST(p_size AS DOUBLE) AS size,
                      CAST(p_retailprice AS DOUBLE) AS retailprice
               FROM part)
      ON size, retailprice
      INTO NAME metric VALUE val)
    """,
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long unpivot (melt): one row per (part, metric). Spark plans
    this as Expand — a map-side row generator, no shuffle."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").cast("double").alias("retailprice"),
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["size", "retailprice"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@register(
    "corr_quantity_price",
    oracle=f"""
    SELECT l_returnflag,
           count(*) AS n,
           round(({_dsum_sql('l_quantity * l_extendedprice')}
                  - {_dsum_sql('l_quantity')} * {_dsum_sql('l_extendedprice')} / count(*))
                 / (sqrt({_dsum_sql('l_quantity * l_quantity')}
                         - {_dsum_sql('l_quantity')} * {_dsum_sql('l_quantity')} / count(*))
                    * sqrt({_dsum_sql('l_extendedprice * l_extendedprice')}
                           - {_dsum_sql('l_extendedprice')} * {_dsum_sql('l_extendedprice')} / count(*))),
                 6) AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def corr_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group, derived from exact decimal sums
    (Σxy, Σx, Σy, Σx², Σy²) so both engines do the identical double
    arithmetic — the native corr() differs in summation order at ULP
    scale. Still one aggregation pass (5 sums), map-side combinable."""
    li = load_table(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    sx = dsum("l_quantity")
    sy = dsum("l_extendedprice")
    sxy = dsum(F.col("l_quantity") * F.col("l_extendedprice"))
    sxx = dsum(F.col("l_quantity") * F.col("l_quantity"))
    syy = dsum(F.col("l_extendedprice") * F.col("l_extendedprice"))
    # try_divide: NULL, as in DuckDB, when a group has no spread (one row).
    corr = F.try_divide(
        sxy - sx * sy / n, F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)
    )
    return li.groupBy("l_returnflag").agg(
        n.alias("n"), F.round(corr, 6).alias("corr_qty_price")
    )


@register(
    "minmax_by_order_extremes",
    oracle="""
    SELECT o_orderpriority,
           arg_max(o_orderkey, o_totalprice) AS priciest_order,
           arg_min(o_orderkey, o_totalprice) AS cheapest_order,
           round(CAST(max(o_totalprice) AS DOUBLE), 6) AS max_price,
           round(CAST(min(o_totalprice) AS DOUBLE), 6) AS min_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def minmax_by_order_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-extreme aggregates (max_by/min_by): which order carries the
    group's extreme price — one pass, no self-join back to the table.
    (Synthetic o_totalprice values are distinct within groups, so the
    arg extremes are well-defined across engines.)"""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("priciest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("cheapest_order"),
        F.round(F.max("o_totalprice").cast("double"), 6).alias("max_price"),
        F.round(F.min("o_totalprice").cast("double"), 6).alias("min_price"),
    )


@register(
    "window_range_frame_30d",
    oracle="""
    SELECT o_custkey, CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6)))
                OVER (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
                      RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS spend_30d
    FROM orders
    """,
)
def window_range_frame_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame: per customer, rolling 30-day spend — frame
    bounds are VALUE offsets on event time (epoch seconds), not row
    counts, so sparse/dense order histories behave identically. Bounded
    partition key (custkey): scales as a plain windowed shuffle."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return o.select(
        "o_custkey",
        F.unix_timestamp("o_orderdate").alias("order_epoch"),
        F.sum(F.col("o_totalprice").cast("decimal(24,6)")).over(w).cast("double").alias("spend_30d"),
    )


@register(
    "window_value_functions",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           first_value(o_orderkey) OVER w AS first_in_prio,
           last_value(o_orderkey) OVER (
             PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_in_prio,
           nth_value(o_orderkey, 3) OVER (
             PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS third_in_prio,
           ntile(4) OVER w AS price_quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic value/distribution window functions: first/last/nth value,
    ntile quartiles, percent_rank, cume_dist — one partition pass per
    bounded key (order priority). last/nth use the full-partition frame
    explicitly (the default frame stops at CURRENT ROW)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.first("o_orderkey").over(w).alias("first_in_prio"),
        F.last("o_orderkey").over(wfull).alias("last_in_prio"),
        F.nth_value("o_orderkey", 3).over(wfull).alias("third_in_prio"),
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "scalar_subquery_in_select",
    oracle="""
    SELECT n.n_name,
           (SELECT count(*) FROM customer c WHERE c.c_nationkey = n.n_nationkey)
             AS n_customers,
           (SELECT count(*) FROM supplier s WHERE s.s_nationkey = n.n_nationkey)
             AS n_suppliers
    FROM nation n
    """,
)
def scalar_subquery_in_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries in the SELECT list — written as the
    aggregates + outer joins Catalyst decorrelates them into (each
    subquery = one grouped count, joined back; zero-match groups become
    0 via coalesce, exactly the scalar subquery's semantics)."""
    n = load_table(spark, sf_dir, "nation")
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("ns"))
    )
    return (
        n.join(c, n.n_nationkey == c.c_nationkey, "left")
        .join(s, n.n_nationkey == s.s_nationkey, "left")
        .select(
            "n_name",
            F.coalesce("nc", F.lit(0)).alias("n_customers"),
            F.coalesce("ns", F.lit(0)).alias("n_suppliers"),
        )
    )


_Q_PROBE_PS = (0.5, 0.95, 0.99)
_Q_PROBE_EPS = 0.001  # rank tolerance: 10× the GK sketch's 1/accuracy bound


@register(
    "quantile_sketch_probe",
    oracle=f"""
    SELECT l_returnflag,
           {", ".join(
               f"round(quantile_cont(CAST(l_extendedprice AS DOUBLE), {p}), 6)"
               f" AS p{int(p * 100)}_exact, TRUE AS p{int(p * 100)}_within_tol"
               for p in _Q_PROBE_PS
           )}
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def quantile_sketch_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (Greenwald-Khanna sketch) per group — the
    100 TB path for percentiles: mergeable fixed-size sketch per
    partition, no sort, no full materialization. Sketch internals are
    engine-specific, so the checked projection is the GK accuracy
    CONTRACT: each approx value must land between the exact quantiles at
    p ± eps (rank tolerance 10× the sketch's 1/accuracy bound); the
    oracle asserts the same exact quantiles and unconditional TRUE."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("double")
    aggs = []
    for p in _Q_PROBE_PS:
        approx = F.approx_percentile(price, F.lit(p), 10000)
        lo = F.percentile(price, F.lit(max(p - _Q_PROBE_EPS, 0.0)))
        hi = F.percentile(price, F.lit(min(p + _Q_PROBE_EPS, 1.0)))
        aggs.append(F.round(F.percentile(price, F.lit(p)), 6).alias(f"p{int(p * 100)}_exact"))
        aggs.append(
            ((approx >= lo) & (approx <= hi)).alias(f"p{int(p * 100)}_within_tol")
        )
    return li.groupBy("l_returnflag").agg(*aggs)


@register(
    "histogram_price_buckets",
    oracle="""
    SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 600000 THEN 13
                ELSE floor(o_totalprice / 50000) + 1 END AS BIGINT) AS bucket,
           count(*) AS n_orders,
           round(CAST(min(o_totalprice) AS DOUBLE), 6) AS lo,
           round(CAST(max(o_totalprice) AS DOUBLE), 6) AS hi
    FROM orders
    GROUP BY bucket
    """,
)
def histogram_price_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket: single-pass binned counts —
    the profiling primitive for choosing partition bounds at scale (a
    full sort-based histogram would shuffle everything; this is one
    map-side-combinable aggregation). The oracle spells out the bucket
    arithmetic (DuckDB has no width_bucket)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(12)).alias(
                "bucket"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice").cast("double"), 6).alias("lo"),
            F.round(F.max("o_totalprice").cast("double"), 6).alias("hi"),
        )
    )


@register(
    "date_arithmetic_functions",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3_months,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
           strftime(o_orderdate + INTERVAL 45 DAY, '%Y-%m-%d') AS due_date,
           round(12.0 * (year(TIMESTAMP '1999-06-15') - year(o_orderdate))
                 + (month(TIMESTAMP '1999-06-15') - month(o_orderdate))
                 + (15 - day(o_orderdate)) / 31.0, 4) AS months_to_ref,
           strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week_start
    FROM orders
    WHERE o_orderkey < 500
    """,
)
def date_arithmetic_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic breadth: add_months, last_day, date_add,
    months_between (computed with the explicit day-fraction formula both
    engines agree on), week truncation."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 500)
    d = F.col("o_orderdate")
    ref = F.lit("1999-06-15").cast("timestamp")
    months_to_ref = F.round(
        12.0 * (F.year(ref) - F.year(d))
        + (F.month(ref) - F.month(d))
        + (F.lit(15) - F.dayofmonth(d)) / 31.0,
        4,
    )
    return o.select(
        "o_orderkey",
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus_3_months"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.date_add(d, 45), "yyyy-MM-dd").alias("due_date"),
        months_to_ref.alias("months_to_ref"),
        F.date_format(F.date_trunc("week", d), "yyyy-MM-dd").alias("week_start"),
    )


@register(
    "explode_outer_probe",
    oracle="""
    SELECT d.doc_id, t.tok
    FROM (
      SELECT doc_id,
             list_filter(string_split_regex(text, '[^0-9]+'),
                         x -> len(x) > 0) AS nums
      FROM documents) d
    LEFT JOIN LATERAL (SELECT unnest(d.nums) AS tok) t ON TRUE
    """,
)
def explode_outer_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer semantics: documents with NO digit runs still emit
    one row (tok NULL) — plain explode would silently drop them, which at
    pipeline scale means silently losing every document a feature
    extractor found nothing in."""
    docs = load_table(spark, sf_dir, "documents")
    nums = F.filter(
        F.split(F.col("text"), "[^0-9]+"), lambda x: F.length(x) > 0
    )
    return docs.select(
        "doc_id", F.explode_outer(nums).alias("tok")
    )


# --------------------------------------------------------------------------
# Column-level data profiling (ANALYZE-TABLE shape)
# --------------------------------------------------------------------------

_PROFILE_COLS = ("l_orderkey", "l_partkey", "l_returnflag", "l_linestatus")


@register(
    "table_profile_lineitem",
    oracle="\nUNION ALL\n".join(
        f"""
        SELECT '{c}' AS column_name,
               count(*) AS n_rows,
               count({c}) AS n_nonnull,
               count(DISTINCT {c}) AS n_distinct,
               CAST(min({c}) AS VARCHAR) AS min_value,
               CAST(max({c}) AS VARCHAR) AS max_value
        FROM lineitem
        """
        for c in _PROFILE_COLS
    )
    + """
    UNION ALL
    SELECT 'l_shipdate', count(*), count(l_shipdate),
           count(DISTINCT l_shipdate),
           strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S'),
           strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S')
    FROM lineitem
    """,
)
def table_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile of the fact table — row count, null count,
    exact distinct count, min/max per column: the ANALYZE-TABLE /
    data-quality audit every ingest pipeline runs before trusting a new
    snapshot.

    One scan, one agg node: all per-column aggregates (including the five
    exact count-distincts, which Catalyst plans as a single Expand) run in
    a single pass, then the 1-row wide result unpivots to long form via
    stack — driver-side row count is 5 regardless of table size. At 100 TB
    exact distinct per column is the expensive honest choice; swap
    approx_count_distinct in where a 2% error is acceptable and the Expand
    disappears.
    """
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS + ("l_shipdate",):
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.count(c).alias(f"{c}__nonnull"),
            F.countDistinct(c).alias(f"{c}__distinct"),
        ]
        if c == "l_shipdate":
            aggs += [
                F.date_format(F.min(c), "yyyy-MM-dd HH:mm:ss").alias(f"{c}__min"),
                F.date_format(F.max(c), "yyyy-MM-dd HH:mm:ss").alias(f"{c}__max"),
            ]
        else:
            aggs += [
                F.min(c).cast("string").alias(f"{c}__min"),
                F.max(c).cast("string").alias(f"{c}__max"),
            ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nonnull, {c}__distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLS + ("l_shipdate",)
    )
    return wide.selectExpr(
        f"stack(5, {stack_args}) AS "
        "(column_name, n_rows, n_nonnull, n_distinct, min_value, max_value)"
    )


@register(
    "scalar_bitwise_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_orderkey & 255 AS BIGINT) AS and_mask,
           CAST(l_orderkey | 4096 AS BIGINT) AS or_flag,
           CAST(xor(l_orderkey, l_linenumber) AS BIGINT) AS xor_key,
           CAST(l_linenumber << 4 AS BIGINT) AS shl,
           CAST(l_orderkey >> 2 AS BIGINT) AS shr,
           CAST(bit_count(CAST(l_orderkey AS BIGINT)) AS INTEGER) AS popcount
    FROM lineitem
    """,
)
def scalar_bitwise_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function parity: and/or/xor masks, shifts, popcount — the
    family behind bitmap indexes, bloom/bitset membership, and flag-packed
    columns. Pure codegen projections over the scan; integer-exact in both
    engines by construction."""
    li = load_table(spark, sf_dir, "lineitem")
    ok = F.col("l_orderkey").cast("long")
    ln = F.col("l_linenumber").cast("long")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        ok.bitwiseAND(F.lit(255)).alias("and_mask"),
        ok.bitwiseOR(F.lit(4096)).alias("or_flag"),
        ok.bitwiseXOR(ln).alias("xor_key"),
        F.shiftleft(ln, 4).cast("long").alias("shl"),
        F.shiftright(ok, 2).alias("shr"),
        F.bit_count(ok).alias("popcount"),
    )


@register(
    "orders_yoy_growth",
    oracle="""
    WITH yearly AS (
      SELECT year(o_orderdate) AS order_year,
             count(*) AS n_orders,
             sum(CAST(o_totalprice AS DECIMAL(24,6))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT order_year, n_orders,
           round(CAST(rev AS DOUBLE), 6) AS revenue,
           round(CAST(rev - lag(rev) OVER (ORDER BY order_year) AS DOUBLE)
                 / CAST(lag(rev) OVER (ORDER BY order_year) AS DOUBLE), 6)
             AS yoy_growth
    FROM yearly
    """,
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth: yearly rollup + lag() over the
    (tiny) year axis. The two-altitude pattern of every trend dashboard:
    the heavy agg shrinks the fact table to a handful of rows FIRST, the
    window then runs on the driver-sized remainder (single partition is
    fine — it holds ~7 rows at any corpus scale, the years of data, not
    the data). Revenue sums as exact decimal (order-independent on any
    partitioning); growth ratio is computed decimal-over-decimal and only
    rounded at emission. First year's growth is NULL on both engines."""
    o = load_table(spark, sf_dir, "orders")
    yearly = o.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(24,6)")).alias("rev"),
    )
    w = Window.orderBy("order_year")
    return yearly.select(
        "order_year",
        "n_orders",
        F.round(F.col("rev").cast("double"), 6).alias("revenue"),
        F.round(
            (F.col("rev") - F.lag("rev").over(w)).cast("double")
            / F.lag("rev").over(w).cast("double"),
            6,
        ).alias("yoy_growth"),
    )


@register(
    "customer_spend_deciles",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(24,6))) AS total_spend
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, total_spend,
             ntile(10) OVER (ORDER BY total_spend DESC, o_custkey) AS decile
      FROM spend
    )
    SELECT decile,
           count(*) AS n_customers,
           round(CAST(sum(total_spend) AS DOUBLE), 6) AS decile_spend,
           round(CAST(min(total_spend) AS DOUBLE), 6) AS min_spend,
           round(CAST(max(total_spend) AS DOUBLE), 6) AS max_spend
    FROM ranked GROUP BY decile
    """,
)
def customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-value deciles: per-customer lifetime spend, ntile(10) by
    spend, then per-decile totals — the whale-curve/LTV-band report.
    Two-phase: the customer rollup carries the shuffle; the decile rank
    runs on the (much smaller) per-customer aggregate — via the
    DISTRIBUTED row_number + boundary-reconstructed ntile
    (functions/distrank.py; r12, with Lorenz/RFM): the rollup is still
    customer-cardinality (billions at 100 TB), so no
    ``Exchange SinglePartition`` remains in this plan. The ORDER BY
    is made UNIQUE with the custkey tiebreak — ntile on a non-unique key
    is engine-dependent for ties, with the tiebreak both engines assign
    identical deciles (the reconstruction is bit-identical to the
    oracle's real ntile). Spends stay exact decimal through min/max/sum
    so ties and boundaries agree bit-for-bit; doubles appear only at
    emission."""
    from map_reduce_go_spark.functions.distrank import (
        dist_row_number,
        ntile_from_rank,
    )

    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(24,6)")).alias("total_spend")
    )
    ranked_i, n = dist_row_number(
        spend, [F.desc("total_spend"), F.asc("o_custkey")], out="i"
    )
    ranked = ranked_i.withColumn("decile", ntile_from_rank(F.col("i"), n, 10))
    return ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("total_spend").cast("double"), 6).alias("decile_spend"),
        F.round(F.min("total_spend").cast("double"), 6).alias("min_spend"),
        F.round(F.max("total_spend").cast("double"), 6).alias("max_spend"),
    )


@register(
    "null_safe_join_probe",
    oracle="""
    WITH c AS (
      SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
      FROM customer
    ),
    segs AS (
      SELECT seg, count(*) AS n_in_seg FROM c GROUP BY seg
    )
    SELECT c.c_custkey, c.seg, s.n_in_seg
    FROM c JOIN segs s ON c.seg IS NOT DISTINCT FROM s.seg
    """,
)
def null_safe_join_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join semantics (<=> / IS NOT DISTINCT FROM): rows
    whose key is NULL still match the NULL group — the semantics plain
    equality silently drops (every NULL-keyed row vanishes from an inner
    equi-join). Exercised by NULLing out one segment via nullif() and
    joining each customer to its segment's cardinality: the NULL-segment
    customers must appear, carrying the NULL group's count.

    Spark plans eqNullSafe as a hash join on a null-coalesced key (still
    a proper equi-join — no nested-loop fallback), so the shape scales
    like any other hash join; the groupBy side is bounded by segment
    cardinality and broadcasts."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg")
    )
    # The dim derives from the probe, so rename its key before joining —
    # Spark's self-join ambiguity check can't attribute a shared lineage
    # column to one side otherwise.
    segs = (
        c.groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n_in_seg"))
        .withColumnRenamed("seg", "seg_dim")
    )
    return (
        c.join(F.broadcast(segs), F.col("seg").eqNullSafe(F.col("seg_dim")))
        .select("c_custkey", "seg", "n_in_seg")
    )


@register(
    "listagg_supplier_roster",
    oracle="""
    SELECT n_name,
           count(*) AS n_suppliers,
           string_agg(s_name, ',' ORDER BY s_name) AS roster
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_acctbal > 9000
    GROUP BY n_name
    """,
)
def listagg_supplier_roster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG ... WITHIN GROUP): per-nation
    roster of high-balance suppliers as one comma-joined, alphabetically
    ordered string. The reference's reduce hook concatenates grouped
    values the same way (indexer app, reference src/mrapps/indexer.go:33-38
    joins sorted document lists with commas); here it is the declarative
    aggregate. Determinism: LISTAGG output order is only defined under
    WITHIN GROUP (ORDER BY ...) — without it both engines are free to
    emit any permutation, so the ordered form is the only oracle-safe
    form. Scale: group-bounded (one row per nation); the string payload
    is the filtered supplier subset, not the corpus — the WHERE prunes
    before the shuffle."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.filter(F.col("s_acctbal") > 9000)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.expr("listagg(s_name, ',') WITHIN GROUP (ORDER BY s_name)").alias(
                "roster"
            ),
        )
    )


@register(
    "robust_central_tendency",
    oracle="""
    WITH price AS (
      SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS px,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
    ),
    quantiles AS (
      SELECT l_returnflag,
             count(*) AS n_rows,
             round(percentile_cont(0.25) WITHIN GROUP (ORDER BY px), 4) AS p25,
             round(percentile_cont(0.50) WITHIN GROUP (ORDER BY px), 4) AS p50,
             round(percentile_cont(0.75) WITHIN GROUP (ORDER BY px), 4) AS p75,
             round(percentile_disc(0.90) WITHIN GROUP (ORDER BY px), 4) AS p90_disc
      FROM price GROUP BY l_returnflag
    ),
    mode_pick AS (
      SELECT l_returnflag, qty,
             row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY count(*) DESC, qty
             ) AS rk
      FROM price GROUP BY l_returnflag, qty
    )
    SELECT q.l_returnflag, q.n_rows, q.p25, q.p50, q.p75, q.p90_disc,
           m.qty AS mode_qty
    FROM quantiles q JOIN mode_pick m
      ON q.l_returnflag = m.l_returnflag AND m.rk = 1
    """,
)
def robust_central_tendency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order statistics per group: interpolated quartiles
    (percentile_cont), a discontinuous percentile (percentile_disc), and
    a DETERMINISTIC mode (of the integer quantity). Raw mode() is
    oracle-unsafe in both engines — ties break arbitrarily — so the mode
    is computed as the (count DESC, value ASC) row_number()=1 pick,
    which is total-ordered.
    Prices are cast to double BEFORE the percentile so both engines run
    identical IEEE interpolation on identical inputs; results round to
    4 dp to absorb any last-ulp difference in the interpolation formula.
    Scale: exact percentiles sort within each group — fine for bounded
    group counts like this; an unbounded-cardinality version would use
    approx_percentile (documented trade, SCALE.md)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("double").alias("px"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    quantiles = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY px)"), 4).alias("p25"),
        F.round(F.expr("percentile_cont(0.50) WITHIN GROUP (ORDER BY px)"), 4).alias("p50"),
        F.round(F.expr("percentile_cont(0.75) WITHIN GROUP (ORDER BY px)"), 4).alias("p75"),
        F.round(F.expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY px)"), 4).alias("p90_disc"),
    )
    counts = li.groupBy("l_returnflag", "qty").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("c"), F.asc("qty"))
    mode_pick = (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(F.col("l_returnflag").alias("rf"), F.col("qty").alias("mode_qty"))
    )
    return quantiles.join(
        F.broadcast(mode_pick), F.col("l_returnflag") == F.col("rf")
    ).select("l_returnflag", "n_rows", "p25", "p50", "p75", "p90_disc", "mode_qty")


@register(
    "unpivot_lineitem_charges",
    oracle="""
    WITH wide AS (
      SELECT l_returnflag,
             round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_price,
             round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_disc,
             round(CAST(sum(CAST(l_tax AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_tax
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, metric, amount
    FROM wide UNPIVOT (amount FOR metric IN (sum_qty, sum_price, sum_disc, sum_tax))
    """,
)
def unpivot_lineitem_charges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshaping (UNPIVOT / melt): the per-flag charge
    rollup pivoted into (flag, metric, amount) rows — the inverse of the
    conditional-agg pivot query and the standard shape for feeding a
    generic metrics sink. Sums stay exact decimal until a single rounded
    double emission so the unpivoted values hash identically. Scale:
    unpivot is a row-local generator (4 output rows per input row, no
    shuffle); the only shuffle is the upstream bounded groupBy."""
    li = load_table(spark, sf_dir, "lineitem")

    def dsum4(c: str) -> Column:
        return F.round(
            F.sum(F.col(c).cast("decimal(18,4)")).cast("double"), 4
        )

    wide = li.groupBy("l_returnflag").agg(
        dsum4("l_quantity").alias("sum_qty"),
        dsum4("l_extendedprice").alias("sum_price"),
        dsum4("l_discount").alias("sum_disc"),
        dsum4("l_tax").alias("sum_tax"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc", "sum_tax"],
        variableColumnName="metric",
        valueColumnName="amount",
    )


@register(
    "lateral_top3_customers_per_nation",
    oracle="""
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n,
    LATERAL (
      SELECT c_name, round(CAST(c_acctbal AS DOUBLE), 2) AS c_acctbal
      FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 3
    ) t
    """,
)
def lateral_top3_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT: the
    top-3 customers by account balance for every nation. The lateral
    form expresses per-group top-k as a correlated derived table —
    Catalyst decorrelates it into a window/rank plan over one
    equi-join rather than 25 separate scans, so the declared
    "subquery per row" never executes per row. The inner ORDER BY
    carries a custkey tiebreak: balances collide across a large
    customer table and an untied LIMIT is engine-arbitrary. Scale:
    decorrelation makes this the same bounded-partition window shape as
    window_topk_parts_per_brand."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("v_lat_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_lat_customer")
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM v_lat_nation n,
        LATERAL (
          SELECT c_name, round(CAST(c_acctbal AS DOUBLE), 2) AS c_acctbal
          FROM v_lat_customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 3
        ) t
        """
    )


def _morton16(x_col: str, y_col: str) -> Column:
    """Interleave the low 8 bits of two integer columns into a 16-bit
    Morton (Z-order) code: bit i of x lands at position 2i, bit i of y at
    2i+1. Built as an 8-term bitwise OR-fold of shift/mask expressions —
    pure JVM codegen, no UDF."""
    z: Column | None = None
    for i in range(8):
        xbit = F.shiftleft(F.shiftrightunsigned(F.col(x_col), i).bitwiseAND(F.lit(1)), 2 * i)
        ybit = F.shiftleft(
            F.shiftrightunsigned(F.col(y_col), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        term = xbit.bitwiseOR(ybit)
        z = term if z is None else z.bitwiseOR(term)
    return z


def _morton16_sql(x: str, y: str) -> str:
    terms = []
    for i in range(8):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


@register(
    "morton_zorder_layout_audit",
    oracle=f"""
    WITH coded AS (
      SELECT ({_morton16_sql('(l_partkey % 256)', '(l_suppkey % 256)')}) AS z,
             l_partkey, l_suppkey
      FROM lineitem
    )
    SELECT (z >> 10) AS z_bucket,
           count(*) AS n_rows,
           min(l_partkey % 256) AS min_px, max(l_partkey % 256) AS max_px,
           min(l_suppkey % 256) AS min_sy, max(l_suppkey % 256) AS max_sy
    FROM coded GROUP BY (z >> 10)
    """,
)
def morton_zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering audit: interleave the low 8 bits of
    (partkey, suppkey) into a 16-bit z-code, bucket rows by the top 6
    z-bits, and report each bucket's row count plus its bounding box in
    the original 2-D key space. This is the layout computation behind
    multi-dimensional clustering (Delta/Iceberg OPTIMIZE ZORDER BY):
    sorting by z keeps both dimensions' ranges tight per file, so
    min/max file statistics prune scans on EITHER predicate column —
    the audit's bounding boxes are exactly those pruning stats. The
    bit-interleave is an 8-term shift/mask OR-fold, all whole-stage
    codegen; the only shuffle is the 64-bucket rollup. Scale: this is
    the map-side compute you would run before a repartitionByRange(z)
    write of a 100 TB table."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("px"),
        (F.col("l_suppkey") % 256).alias("sy"),
    )
    coded = li.withColumn("z", _morton16("px", "sy"))
    return coded.groupBy(F.shiftrightunsigned(F.col("z"), 10).alias("z_bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("px").alias("min_px"),
        F.max("px").alias("max_px"),
        F.min("sy").alias("min_sy"),
        F.max("sy").alias("max_sy"),
    )


# Dirty-string corpus for the try_cast probe: one deterministic value per
# lineitem row, cycled by key. Covers clean ints, trash, blanks, padded
# ints, decimals, scientific notation, an invalid and a valid date, a
# negative, and a bigint-overflowing digit string.
_DIRTY_VALS: tuple[str, ...] = (
    "123", "12x", "", " 42 ", "3.14",
    "1e3", "2021-02-29", "2021-03-01", "-7", "9999999999999999999",
)


@register(
    "try_cast_dirty_data",
    oracle=f"""
    WITH dirty AS (
      SELECT list_extract(
               [{", ".join(f"'{v}'" for v in _DIRTY_VALS)}],
               CAST((l_orderkey * 7 + l_linenumber) % {len(_DIRTY_VALS)} AS INTEGER) + 1
             ) AS raw
      FROM lineitem
    ),
    casted AS (
      SELECT raw,
             CASE WHEN regexp_matches(raw, '^\\s*[+-]?[0-9]+\\s*$')
                  THEN TRY_CAST(raw AS BIGINT) END AS as_int,
             TRY_CAST(raw AS DOUBLE) AS as_double,
             TRY_CAST(raw AS DATE) AS as_date
      FROM dirty
    )
    SELECT raw,
           count(*) AS n_rows,
           CAST(count(as_int) AS BIGINT) AS n_int_ok,
           CAST(count(as_double) AS BIGINT) AS n_double_ok,
           CAST(count(as_date) AS BIGINT) AS n_date_ok,
           CAST(coalesce(sum(as_int), 0) AS BIGINT) AS int_sum,
           round(CAST(coalesce(sum(as_double), 0) AS DOUBLE), 4) AS double_sum
    FROM casted GROUP BY raw
    """,
)
def try_cast_dirty_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant ingestion casts (try_cast): a dirty string column
    — clean ints, garbage, blanks, padded numbers, decimals, scientific
    notation, invalid dates, overflow — cast to BIGINT/DOUBLE/DATE with
    per-value success counts and sums. try_cast is the NULL-on-failure
    ingestion primitive (ANSI cast would abort the job on the first bad
    row 90 TB into a scan). SEMANTIC NOTE, encoded in the oracle: Spark's
    try_cast string→integral is ANSI-strict (only integer literals;
    '3.14'/'1e3' → NULL) while DuckDB's TRY_CAST rounds decimals and
    parses 0x — the oracle guards its int cast with the integer-literal
    regex to assert Spark's documented semantics rather than accidentally
    matching on lax ones. Overflow ('99…9' > int64) is NULL in both.
    All-integer counts and an exact bigint sum; the double sum is
    per-group n×constant, rounded. Scale: casts are map-side codegen;
    the rollup is bounded by the value-set cardinality."""
    li = load_table(spark, sf_dir, "lineitem")
    arr = F.array(*[F.lit(v) for v in _DIRTY_VALS])
    raw = F.element_at(
        arr,
        (
            F.pmod(F.col("l_orderkey") * 7 + F.col("l_linenumber"), len(_DIRTY_VALS))
        ).cast("int")
        + 1,
    )
    casted = li.select(raw.alias("raw")).select(
        "raw",
        F.expr("try_cast(raw AS BIGINT)").alias("as_int"),
        F.expr("try_cast(raw AS DOUBLE)").alias("as_double"),
        F.expr("try_cast(raw AS DATE)").alias("as_date"),
    )
    return casted.groupBy("raw").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("as_int").alias("n_int_ok"),
        F.count("as_double").alias("n_double_ok"),
        F.count("as_date").alias("n_date_ok"),
        F.coalesce(F.sum("as_int"), F.lit(0)).cast("bigint").alias("int_sum"),
        F.round(F.coalesce(F.sum("as_double"), F.lit(0.0)), 4).alias("double_sum"),
    )


@register(
    "moment_stats_quantity",
    oracle="""
    WITH qv AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem
    ),
    sums AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(q) AS BIGINT) AS s1,
             CAST(sum(q * q) AS BIGINT) AS s2,
             CAST(sum(q * q * q) AS BIGINT) AS s3,
             CAST(sum(q * q * q * q) AS BIGINT) AS s4
      FROM qv GROUP BY l_returnflag
    ),
    derived AS (
      SELECT l_returnflag, n, s1,
             CAST(s1 AS DOUBLE) / n AS mean,
             CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m2,
             CAST(s2 AS DOUBLE) / n AS r2,
             CAST(s3 AS DOUBLE) / n AS r3,
             CAST(s4 AS DOUBLE) / n AS r4
      FROM sums
    )
    SELECT l_returnflag, n,
           round(mean, 6) AS mean_qty,
           round(m2, 6) AS var_pop,
           round((r3 - 3 * mean * r2 + 2 * mean * mean * mean)
                 / (sqrt(m2) * m2), 6) AS skewness_pop,
           round((r4 - 4 * mean * r3 + 6 * mean * mean * r2
                  - 3 * mean * mean * mean * mean) / (m2 * m2) - 3, 6) AS kurtosis_pop
    FROM derived
    """,
)
def moment_stats_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment statistics (variance / skewness / excess kurtosis)
    computed FROM EXACT INTEGER POWER SUMS — the oracle-deterministic
    alternative to the engines' built-in skewness()/kurtosis(), whose
    sample-vs-population conventions and float accumulation orders
    differ across engines. Quantities are small integers, so Σq..Σq⁴
    fit bigints exactly (order-independent); every downstream float op
    is the identical IEEE expression on identical scalars, with
    sqrt(m2)·m2 replacing pow(m2, 1.5) because sqrt is correctly-rounded
    by IEEE-754 while pow is not. This one-pass raw-moment shape is also
    the distributed-friendly form: a single map-side-combined aggregate,
    no second pass for centered moments. Scale: wordcount-shaped."""
    q = F.col("l_quantity").cast("bigint")
    sums = load_table(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    n = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    m2 = r2 - mean * mean
    return sums.select(
        "l_returnflag",
        "n",
        F.round(mean, 6).alias("mean_qty"),
        F.round(m2, 6).alias("var_pop"),
        # try_divide: NULL, as in DuckDB, when m2 = 0 (e.g. one row).
        F.round(
            F.try_divide(
                r3 - F.lit(3) * mean * r2 + F.lit(2) * mean * mean * mean,
                F.sqrt(m2) * m2,
            ),
            6,
        ).alias("skewness_pop"),
        F.round(
            F.try_divide(
                r4 - F.lit(4) * mean * r3 + F.lit(6) * mean * mean * r2
                - F.lit(3) * mean * mean * mean * mean,
                m2 * m2,
            ) - F.lit(3),
            6,
        ).alias("kurtosis_pop"),
    )


@register(
    "pareto_frontier_parts",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice
        AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier: the parts not dominated on (cheaper
    price, larger size) — the multi-criteria shortlist query (cheapest
    part at every size level). A part is dominated iff some other part is
    no worse on both axes and strictly better on one; ties on both axes
    keep both rows.

    The declarative engine gets to replace the textbook O(N²) NOT-EXISTS
    self-join (which the oracle states verbatim) with an O(N log N) plan:
    collapse to one row per distinct price carrying the group's max size,
    take a strictly-preceding-rows prefix max over the price order, and
    join that single number back — a survivor must beat the best size
    among all strictly-cheaper parts AND the best size at its own price.
    Both windows ride Spark's range-partitioned sort exchange; the
    distinct-price rollup is a few thousand rows at any corpus size, so
    the prefix-max window never sees the fact table. At 100 TB the
    difference is a sort versus a cartesian product.
    """
    part = load_table(spark, sf_dir, "part")
    by_price = part.groupBy("p_retailprice").agg(F.max("p_size").alias("gmax"))
    w = Window.orderBy("p_retailprice").rowsBetween(Window.unboundedPreceding, -1)
    pricemap = by_price.withColumn("prefix_max", F.max("gmax").over(w))
    joined = part.join(F.broadcast(pricemap), "p_retailprice")
    dominated = (
        (F.col("prefix_max").isNotNull() & (F.col("prefix_max") >= F.col("p_size")))
        | (F.col("gmax") > F.col("p_size"))
    )
    return joined.where(~dominated).select("p_partkey", "p_retailprice", "p_size")


@register(
    "weighted_median_price",
    oracle="""
    WITH t AS (
      SELECT l_returnflag AS flag, l_extendedprice AS price,
             sum(CAST(floor(l_quantity) AS BIGINT))
               OVER (PARTITION BY l_returnflag
                     ORDER BY l_extendedprice, l_orderkey, l_linenumber
                     ROWS UNBOUNDED PRECEDING) AS cum,
             sum(CAST(floor(l_quantity) AS BIGINT))
               OVER (PARTITION BY l_returnflag) AS total
      FROM lineitem
    )
    SELECT flag AS l_returnflag,
           CAST(max(total) AS BIGINT) AS total_weight,
           min(price) AS weighted_median_price
    FROM t WHERE 2 * cum >= total
    GROUP BY flag
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median of l_extendedprice per return flag — the
    'median price of a unit sold' statistic, where each line item counts
    with its quantity. Plain median (median_price_per_segment) answers
    'the middle row'; the weighted form answers 'the middle unit', which
    is what pricing analysis actually wants.

    Classic cumulative-weight crossing: per flag, rows sorted by price
    accumulate integer weight; the weighted median is the price of the
    first row whose cumulative weight reaches half the total. Expressed
    as one per-flag window (partitioned on the flag — per-key sort, no
    global exchange) + a filter + min() per flag, so the crossing row is
    selected without any driver-side logic. (l_orderkey, l_linenumber)
    breaks price ties, making `cum` — and the crossing — deterministic
    in both engines. Weights are floor()ed to exact integers so no float
    sum ever decides the crossing.
    """
    li = load_table(spark, sf_dir, "lineitem")
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("l_returnflag")
    wt = F.floor("l_quantity").cast("long")
    t = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.sum(wt).over(w_cum).alias("cum"),
        F.sum(wt).over(w_tot).alias("total"),
    )
    return (
        t.where(2 * F.col("cum") >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(
            F.max("total").cast("long").alias("total_weight"),
            F.min("price").alias("weighted_median_price"),
        )
    )


@register(
    "chisq_segment_priority_independence",
    oracle="""
    WITH cells AS (
      SELECT c_mktsegment AS segment, o_orderpriority AS priority,
             count(*) AS obs
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY segment, priority
    ),
    tot AS (
      SELECT segment, priority, obs,
             sum(obs) OVER (PARTITION BY segment) AS row_tot,
             sum(obs) OVER (PARTITION BY priority) AS col_tot,
             sum(obs) OVER () AS total
      FROM cells
    )
    SELECT segment, priority, obs,
           CAST(1000 * row_tot * col_tot // total AS BIGINT) AS expected_milli,
           round((CAST(obs AS DOUBLE) * total - CAST(row_tot AS DOUBLE) * col_tot)
                 * (CAST(obs AS DOUBLE) * total - CAST(row_tot AS DOUBLE) * col_tot)
                 / (CAST(row_tot AS DOUBLE) * col_tot * total), 6) AS chi2_contrib
    FROM tot
    """,
)
def chisq_segment_priority_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test cells for market segment × order
    priority — the contingency-table screen behind "does this dimension
    actually predict that one": every observed cell with its expected
    count (under independence) and its chi² contribution; summing
    chi2_contrib gives the test statistic against dof = (R−1)(C−1).

    Determinism discipline: the contribution (obs−exp)²/exp is algebraic
    over integers — (obs·total − row·col)² / (row·col·total) — evaluated
    as ONE double expression on exact BIGINT aggregates, identical
    IEEE ops in both engines (obs·total ≤ 2e10 stays integer-exact in a
    double far past sf1). Expected counts are emitted as integer
    milli-counts via integer division. The fact-sized work is one join +
    one 25-cell aggregate; the window pass runs over the 25-row cell
    frame. Scale cost = the join, which broadcasts the customer side's
    two columns or shuffles on the key like any fact⋈dim.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cells = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    tot = cells.select(
        "segment",
        "priority",
        "obs",
        F.sum("obs").over(Window.partitionBy("segment")).alias("row_tot"),
        F.sum("obs").over(Window.partitionBy("priority")).alias("col_tot"),
        F.sum("obs").over(Window.partitionBy()).alias("total"),
    )
    dev = F.col("obs").cast("double") * F.col("total") - F.col("row_tot").cast(
        "double"
    ) * F.col("col_tot")
    return tot.select(
        "segment",
        "priority",
        "obs",
        F.expr("1000 * row_tot * col_tot div total").alias("expected_milli"),
        F.round(
            dev * dev
            / (F.col("row_tot").cast("double") * F.col("col_tot") * F.col("total")),
            6,
        ).alias("chi2_contrib"),
    )


@register(
    "ship_latency_percentiles_by_priority",
    oracle="""
    WITH lat AS (
      SELECT o_orderpriority AS priority,
             datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
               AS lat_days
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    )
    SELECT priority,
           count(*) AS n_items,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY lat_days) AS BIGINT) AS p50_days,
           CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY lat_days) AS BIGINT) AS p90_days,
           CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY lat_days) AS BIGINT) AS p99_days,
           CAST(max(lat_days) AS BIGINT) AS max_days
    FROM lat GROUP BY priority
    """,
)
def ship_latency_percentiles_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order→ship latency SLO report: per order priority, the p50/p90/p99
    and max of whole-day latency from order date to line-item ship date —
    the fulfilment dashboard's tail-latency table.

    Latencies are integer day diffs and every percentile is
    percentile_disc — an actual member of the sorted set, so NO
    interpolation arithmetic exists to differ between engines; the
    outputs are exact integers. One fact⋈fact equi-join on the order key
    (co-partitioned shuffle), then a 5-group exact-percentile aggregate;
    at unbounded group cardinality the approx_percentile swap is the
    documented trade (quantile_sketch_probe measures that sketch's
    rank error).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lat = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("lat_days"),
    )
    return lat.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY lat_days)")
        .cast("long")
        .alias("p50_days"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY lat_days)")
        .cast("long")
        .alias("p90_days"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY lat_days)")
        .cast("long")
        .alias("p99_days"),
        F.max("lat_days").cast("long").alias("max_days"),
    )


@register(
    "basket_part_pairs_topk",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_orders
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY p1, p2
    )
    SELECT p1, p2, n_orders
    FROM pairs
    ORDER BY n_orders DESC, p1, p2
    LIMIT 20
    """,
)
def basket_part_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top-20 part pairs that appear in
    the same order — the frequent-itemset (k=2) mining pass behind
    "customers who bought X also bought" (the A-Priori candidate
    generation step, expressed relationally).

    The pair generation self-joins WITHIN the order key only — the
    co-partitioned equi-join explodes each order into C(basket, 2)
    pairs, so the work is Σ basketᵢ² — linear in orders for bounded
    basket sizes, never corpus-quadratic (the same within-key-only
    discipline as the LSH band self-join). A distinct pass first
    collapses repeated parts per order so quantity re-orders don't
    inflate counts. Top-20 rides TakeOrdered with total tie-break
    (count DESC, p1, p2) — deterministic under any partitioning.
    """
    from map_reduce_go_spark.functions.caching import tracked_cache

    li = load_table(spark, sf_dir, "lineitem")
    # Cache the distinct rollup so the a x b self-join reads the fact
    # table once, not twice (see basket_pair_lift).
    items = tracked_cache(li.select("l_orderkey", "l_partkey").distinct())
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return pairs.orderBy(F.desc("n_orders"), "p1", "p2").limit(20)


# One SQL string, two engines: the Spark implementation executes THIS text
# via spark.sql() over temp views and the oracle is the IDENTICAL string —
# zero translation, the strongest possible statement that the engine's SQL
# front-end speaks the shared ANSI dialect. Constraints that keep the text
# dialect-portable: explicit CASTs everywhere an engine-default type could
# differ (count -> BIGINT, decimal sum -> DOUBLE), exact decimal
# accumulation before the one double conversion, no engine-specific
# functions, ties impossible in the rank (segment revenues are distinct).
_SHARED_ANSI_SQL = """
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
           CAST(rank() OVER (
                  ORDER BY CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) DESC
                ) AS BIGINT) AS revenue_rank
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY c_mktsegment
"""


@register("shared_ansi_sql_probe", oracle=_SHARED_ANSI_SQL)
def shared_ansi_sql_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect-parity probe: the ONE query in the registry whose Spark
    implementation and DuckDB oracle are the SAME SQL string — the text
    below goes through spark.sql() verbatim, so this row passing the
    value-hash gate certifies the whole shared-ANSI-subset discipline
    the other 190 oracles rely on (explicit casts at every
    engine-default-type seam, exact decimal accumulation, one double
    conversion at emission).

    Catalyst plans the text exactly as it would the DataFrame form:
    fact⋈dim equi-join (customer side broadcast at this size), two-phase
    hash aggregate, and a 5-row window — no penalty for entering
    through SQL.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_SHARED_ANSI_SQL)


# Association-rule knobs shared with the oracle: minimum pair support
# (absolute order count) before a lift is considered meaningful.
LIFT_MIN_SUPPORT = 3
LIFT_TOP_K = 20


@register(
    "basket_pair_lift",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM items),
    marg AS (
      SELECT l_partkey, count(*) AS n_p FROM items GROUP BY l_partkey
    ),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_pair
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY p1, p2
    )
    SELECT p1, p2, n_pair,
           CAST((1000000 * n_pair * (SELECT n_baskets FROM n))
                // (m1.n_p * m2.n_p) AS BIGINT) AS lift_ppm
    FROM pairs
    JOIN marg m1 ON m1.l_partkey = p1
    JOIN marg m2 ON m2.l_partkey = p2
    WHERE n_pair >= {LIFT_MIN_SUPPORT}
    ORDER BY lift_ppm DESC, p1, p2
    LIMIT {LIFT_TOP_K}
    """,
)
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule lift over market baskets: for co-purchased part
    pairs with support >= 3 orders, lift = P(p1,p2) / (P(p1)·P(p2)) in
    integer ppm — the step after basket_part_pairs_topk's raw counts,
    separating genuinely-associated pairs from pairs that co-occur
    merely because both parts are popular (lift ~ 1e6 ppm = independent).

    Pair generation is the same within-order-key-only self-join
    (Σ basket² work, never corpus-quadratic); the marginals are one
    part-keyed rollup joined back twice on partkey (co-keyed, and
    part-cardinality sized — at 100 TB these are the small side and
    broadcast under AQE); the basket total is a one-row broadcast. Lift
    is a single integer floor-division — n_pair·N and n_p1·n_p2 are
    exact BIGINT products — so the ranking is engine-exact with
    (lift, p1, p2) total tie-break.
    """
    from map_reduce_go_spark.functions.caching import tracked_cache

    li = load_table(spark, sf_dir, "lineitem")
    # The distinct item set feeds FIVE subtrees (pair join a/b, two
    # marginal joins, the basket total) — uncached that is five fact
    # scans (plan-audited). Cache the ROLLUP (distinct pairs, far
    # smaller than lineitem), never the fact table.
    items = tracked_cache(li.select("l_orderkey", "l_partkey").distinct())
    n = items.agg(F.countDistinct("l_orderkey").alias("n_baskets"))
    marg = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_p"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= LIFT_MIN_SUPPORT)
    )
    m1 = marg.select(F.col("l_partkey").alias("p1"), F.col("n_p").alias("n_p1"))
    m2 = marg.select(F.col("l_partkey").alias("p2"), F.col("n_p").alias("n_p2"))
    return (
        pairs.join(m1, "p1")
        .join(m2, "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            "n_pair",
            F.expr("(1000000 * n_pair * n_baskets) div (n_p1 * n_p2)").alias(
                "lift_ppm"
            ),
        )
        .orderBy(F.desc("lift_ppm"), "p1", "p2")
        .limit(LIFT_TOP_K)
    )


@register(
    "mad_outliers_by_segment",
    oracle="""
    WITH base AS (
      SELECT c.c_mktsegment AS segment, o.o_totalprice AS price
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    med AS (
      SELECT segment,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY price) AS med_price
      FROM base GROUP BY segment
    ),
    dev AS (
      SELECT b.segment, b.price, m.med_price,
             abs(b.price - m.med_price) AS d
      FROM base b JOIN med m ON b.segment = m.segment
    ),
    mad AS (
      SELECT segment,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY d) AS mad_price
      FROM dev GROUP BY segment
    )
    SELECT d.segment,
           round(d.med_price, 6) AS med_price,
           round(m.mad_price, 6) AS mad_price,
           count(*) AS n_orders,
           CAST(coalesce(sum(CASE WHEN d.d > 3 * m.mad_price THEN 1 END), 0)
                AS BIGINT) AS n_outliers,
           CAST(1000000 * coalesce(sum(CASE WHEN d.d > 3 * m.mad_price
                                       THEN 1 END), 0) // count(*)
                AS BIGINT) AS outlier_ppm
    FROM dev d JOIN mad m ON d.segment = m.segment
    GROUP BY d.segment, d.med_price, m.mad_price
    """,
)
def mad_outliers_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per market segment: median / MAD (median
    absolute deviation) instead of mean / stddev, the estimator that
    survives the heavy-tailed price distributions real data has (one
    whale order moves a z-score fence, not a MAD fence). Flags orders
    with |price − median| > 3·MAD and reports the per-segment rate.

    Cross-engine determinism: percentile_disc picks an ACTUAL data value
    (no interpolation), |price − med| is one IEEE subtraction, and the
    3·MAD fence is one multiply — every comparison is bit-identical in
    Spark and DuckDB; only the final display columns are rounded.

    Scale shape: two grouped exact percentiles over the fact (each one
    shuffle on segment; the 5-way group fan-in is the exact-median cost —
    at 100 TB swap percentile_disc for approx_percentile or the
    distributed-row_number rank idiom (see equidepth_histogram_*), same
    frame, and fence on the approximate median; the fence-count pass is
    map-side combinable either way). The median/MAD frames are 5 rows —
    broadcast joined back, never a shuffle of the fact.
    """
    from map_reduce_go_spark.functions.caching import tracked_cache

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # The (segment, price) projection feeds THREE subtrees (median, MAD,
    # fence count) -- cache the 2-column frame so the join runs once
    # (scan-count audited); at 100 TB swap for recompute or checkpoint.
    base = tracked_cache(
        o.join(c, o.o_custkey == c.c_custkey).select(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_totalprice").alias("price"),
        )
    )
    med = base.groupBy("segment").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY price)").alias(
            "med_price"
        )
    )
    dev = base.join(F.broadcast(med), "segment").withColumn(
        "d", F.abs(F.col("price") - F.col("med_price"))
    )
    mad = dev.groupBy("segment").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY d)").alias("mad_price")
    )
    return (
        dev.join(F.broadcast(mad), "segment")
        .groupBy("segment", "med_price", "mad_price")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.coalesce(
                F.sum(F.when(F.col("d") > 3 * F.col("mad_price"), 1)), F.lit(0)
            ).alias("n_outliers"),
        )
        .select(
            "segment",
            F.round("med_price", 6).alias("med_price"),
            F.round("mad_price", 6).alias("mad_price"),
            "n_orders",
            "n_outliers",
            F.expr("CAST(1000000 * n_outliers div n_orders AS BIGINT)").alias(
                "outlier_ppm"
            ),
        )
    )


PAGERANK_DAMP = 0.85
PAGERANK_ITERS = 3


@register(
    "pagerank_nation_trade",
    oracle=f"""
    WITH edges AS (
      SELECT sn.n_nationkey AS src, cn.n_nationkey AS dst,
             count(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      GROUP BY src, dst
    ),
    outdeg AS (SELECT src, sum(w) AS o FROM edges GROUP BY src),
    nn AS (SELECT count(*) AS n FROM nation),
    r0 AS (SELECT n_nationkey AS node, 1.0 / nn.n AS pr FROM nation, nn),
    l1 AS (
      SELECT coalesce(sum(r.pr), 0.0) AS lk
      FROM r0 r LEFT JOIN outdeg d ON d.src = r.node
      WHERE d.src IS NULL
    ),
    r1 AS (
      SELECT node, (1.0 - {PAGERANK_DAMP}) / nn.n
             + {PAGERANK_DAMP} * (coalesce(sum(pr * w / o), 0.0)
                                    + l1.lk / nn.n) AS pr
      FROM (SELECT t.node, r.pr, e.w, d.o
            FROM (SELECT n_nationkey AS node FROM nation) t
            LEFT JOIN edges e ON e.dst = t.node
            LEFT JOIN r0 r ON r.node = e.src
            LEFT JOIN outdeg d ON d.src = e.src), nn, l1
      GROUP BY node, nn.n, l1.lk
    ),
    l2 AS (
      SELECT coalesce(sum(r.pr), 0.0) AS lk
      FROM r1 r LEFT JOIN outdeg d ON d.src = r.node
      WHERE d.src IS NULL
    ),
    r2 AS (
      SELECT node, (1.0 - {PAGERANK_DAMP}) / nn.n
             + {PAGERANK_DAMP} * (coalesce(sum(pr * w / o), 0.0)
                                    + l2.lk / nn.n) AS pr
      FROM (SELECT t.node, r.pr, e.w, d.o
            FROM (SELECT n_nationkey AS node FROM nation) t
            LEFT JOIN edges e ON e.dst = t.node
            LEFT JOIN r1 r ON r.node = e.src
            LEFT JOIN outdeg d ON d.src = e.src), nn, l2
      GROUP BY node, nn.n, l2.lk
    ),
    l3 AS (
      SELECT coalesce(sum(r.pr), 0.0) AS lk
      FROM r2 r LEFT JOIN outdeg d ON d.src = r.node
      WHERE d.src IS NULL
    ),
    r3 AS (
      SELECT node, (1.0 - {PAGERANK_DAMP}) / nn.n
             + {PAGERANK_DAMP} * (coalesce(sum(pr * w / o), 0.0)
                                    + l3.lk / nn.n) AS pr
      FROM (SELECT t.node, r.pr, e.w, d.o
            FROM (SELECT n_nationkey AS node FROM nation) t
            LEFT JOIN edges e ON e.dst = t.node
            LEFT JOIN r2 r ON r.node = e.src
            LEFT JOIN outdeg d ON d.src = e.src), nn, l3
      GROUP BY node, nn.n, l3.lk
    )
    SELECT n.n_name AS nation, round(r3.pr, 6) AS pagerank
    FROM r3 JOIN nation n ON n.n_nationkey = r3.node
    """,
)
def pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation-to-nation trade graph (supplier nation →
    customer nation, edge weight = shipment count), PAGERANK_ITERS
    power iterations with damping PAGERANK_DAMP — the
    iterate-on-the-aggregate pattern for graph centrality at warehouse
    scale: the 100 TB fact table is touched ONCE to build a
    bounded-cardinality edge aggregate (≤ |nations|² rows), and the
    iterative part runs on that aggregate alone, each step a tiny
    broadcast join + 25-row shuffle. Never iterate over the fact.

    Dangling nodes (nations with no outgoing trade — common at small
    scale factors) get the standard correction: their mass redistributes
    uniformly each iteration, so the PageRank vector sums to exactly 1
    at every step (probability-mass conservation is unit-tested).

    Driver-held iteration (r16, completing the ADVICE r15 direction):
    EVERYTHING after the edge aggregate is bounded metadata — the edge
    rollup has ≤ |nations|² = 625 rows, the rank vector |nations| = 25
    — so the power iterations run in plain Python on the driver over
    the ONE collected aggregate (the same bounded-collect class as the
    IVF codebook or the shard op-log fold). History of this loop: the
    lazily-composed r14 form re-evaluated the chain ~2^iters times
    (calm median drifted to 5.0 s, spreads [4.2, 17.0]); r15 cut
    lineage with an eager per-iteration localCheckpoint (2.5 s, but
    truncated lineage lives in executor block storage — an
    executor-loss reliability regression ADVICE r15 flagged); the
    inherited r16 build held each iteration's vector on the driver via
    collect + createDataFrame (reliable, but still one Spark job +
    broadcast per iteration — measured 3.9 s cold). Collapsing the
    iterations to driver arithmetic removes every per-iteration job:
    ONE fact-aggregate collect + one tiny emit join — measured 1.1 s
    cold at sf0.1, and output-identical at sf0.001/0.01/0.1.

    Cross-engine determinism: edge weights and out-degrees are exact
    integers; each iteration sums ≤ |nations| double terms of identical
    expression shape ((pr · w) / o) — Python accumulates them in sorted
    src order, so engine-order ULP drift vs the oracle's aggregate
    order is ~1e-16, far inside the 6 dp rounding of the output (the
    same tolerance argument the distributed form carried).

    Sibling: word_graph_pagerank (same algorithm family) runs in exact
    parts-per-billion INTEGER arithmetic over the token graph; this
    variant exercises the other half of the design space — double
    arithmetic with uniform dangling-mass redistribution, and a graph
    AGGREGATED from a 4-table fact join rather than read as edges.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").cast("long").alias("src"),
            F.col("c_nationkey").cast("long").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .collect()  # bounded: ≤ |nations|² rows by construction
    )
    nodes = sorted(
        r["n_nationkey"] for r in nation.select("n_nationkey").collect()
    )
    n_nations = len(nodes)
    if not n_nations:  # no nodes, no ranks (the oracle returns 0 rows)
        return spark.createDataFrame([], schema="nation string, pagerank double")
    outdeg: dict[int, int] = {}
    for r in edges:
        outdeg[r["src"]] = outdeg.get(r["src"], 0) + r["w"]
    by_dst: dict[int, list[tuple[int, int]]] = {}
    for r in sorted(edges, key=lambda r: (r["dst"], r["src"])):
        by_dst.setdefault(r["dst"], []).append((r["src"], r["w"]))
    pr = {node: 1.0 / n_nations for node in nodes}
    base = (1.0 - PAGERANK_DAMP) / n_nations
    for _ in range(PAGERANK_ITERS):
        leaked = 0.0
        for node in nodes:  # sorted — deterministic accumulation order
            if node not in outdeg:
                leaked += pr[node]
        nxt = {}
        for node in nodes:
            mass = 0.0
            for src, w in by_dst.get(node, ()):  # sorted by src
                mass += pr[src] * w / outdeg[src]
            nxt[node] = base + PAGERANK_DAMP * (mass + leaked / n_nations)
        pr = nxt
    pr_df = spark.createDataFrame(
        [(int(k), float(v)) for k, v in sorted(pr.items())],
        schema="node long, pr double",
    )
    return pr_df.join(
        F.broadcast(nation), pr_df.node == F.col("n_nationkey")
    ).select(F.col("n_name").alias("nation"), F.round("pr", 6).alias("pagerank"))


# --------------------------------------------------------------------------
# Poisson bootstrap confidence intervals (one-pass, B resamples)
# --------------------------------------------------------------------------

#: Number of bootstrap resamples. 32 keeps the order-statistic CI readable
#: (2nd / 31st of 32) while the whole resample state is 2·B aggregate
#: columns — one shuffled row per group regardless of corpus size.
BOOTSTRAP_B = 32

#: floor(2^32 · CDF_Poisson(1)(k)) for k = 0..5 — the inverse-CDF ladder
#: that turns one 32-bit uniform hash slice into a Poisson(1) resample
#: weight. Exact integers, so the CASE ladder compares identically in
#: Spark and DuckDB; weights are capped at 6 (P ≈ 5.9e-4 of truncation).
_POISSON1_CDF_U32 = (
    1580030168,
    3160060337,
    3950075421,
    4213413783,
    4279248373,
    4292415291,
)


def _poisson_weight_case(u_expr: str) -> str:
    """CASE ladder mapping a u32 uniform (as BIGINT) to a Poisson(1) draw."""
    arms = " ".join(
        f"WHEN {u_expr} < {t} THEN {k}"
        for k, t in enumerate(_POISSON1_CDF_U32)
    )
    return f"CASE {arms} ELSE 6 END"


def _bootstrap_oracle() -> str:
    """DuckDB oracle for bootstrap_ci_avg_price, generated the same way
    the Spark side generates its columns so the two stay in lockstep."""
    u = lambda b: md5_int_sql(  # noqa: E731 — local SQL-fragment builder
        f"CAST(o_orderkey AS VARCHAR) || '|{b // 4}'", 8, 1 + 8 * (b % 4)
    )
    w_cols = ",\n             ".join(
        f"{_poisson_weight_case(u(b))} AS w{b}" for b in range(BOOTSTRAP_B)
    )
    aggs = ",\n             ".join(
        f"CAST(sum(w{b}) AS BIGINT) AS c{b},"
        f" CAST(sum(w{b} * price_cents) AS BIGINT) AS s{b}"
        for b in range(BOOTSTRAP_B)
    )
    means = ", ".join(
        f"(10000 * s{b}) // nullif(c{b}, 0)" for b in range(BOOTSTRAP_B)
    )
    return f"""
    WITH base AS (
      SELECT o_orderpriority AS priority,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
             o_orderkey
      FROM orders
    ),
    weighted AS (
      SELECT priority, price_cents,
             {w_cols}
      FROM base
    ),
    agg AS (
      SELECT priority,
             count(*) AS n_orders,
             CAST(sum(price_cents) AS BIGINT) AS total_cents,
             {aggs}
      FROM weighted GROUP BY priority
    )
    SELECT priority,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST((10000 * total_cents) // n_orders AS BIGINT) AS point_micro,
           CAST(list_sort([{means}])[2] AS BIGINT) AS ci_lo_micro,
           CAST(list_sort([{means}])[{BOOTSTRAP_B - 1}] AS BIGINT)
             AS ci_hi_micro
    FROM agg
    """


@register("bootstrap_ci_avg_price", oracle=_bootstrap_oracle())
def bootstrap_ci_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for mean order price per priority,
    via the ONE-PASS Poisson bootstrap (Chamandy et al., the streaming
    bootstrap): instead of materializing B resampled datasets, each row
    contributes to resample b with a Poisson(1) multiplicity drawn
    deterministically from a content hash, so all B resample means fall
    out of a single grouped aggregate. The CI is the 2nd/31st order
    statistic of the 32 resample means (a ~6% trimmed interval).

    Scale shape — why this is THE bootstrap for 100 TB: the naive
    bootstrap explodes the fact ×B (B corpus copies through the
    shuffle); this plan computes 2·B map-side-combinable sums in the one
    aggregate it already owed, so the shuffle moves ONE 64-column row
    per group and B only widens that row, never the data. Hash-seeded
    weights (md5 slices, 4 uniforms per digest — the minhash digest
    idiom) make every engine, run, and cluster size draw the same
    resamples: the md5 is computed once per row per digest in codegen.

    Determinism: weights from exact integer CDF thresholds; means as
    micro-dollar integer division (all-positive, truncation == floor on
    both engines); order statistics over a 32-element sorted array —
    no float percentile anywhere. Fixture-scale arithmetic note:
    10000·sum(w·cents) stays under 2^63 through sf100; beyond that,
    promote the sums to decimal(38,0) as zipf_tail_slope does.
    """
    B = BOOTSTRAP_B
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias(
            "price_cents"
        ),
        "o_orderkey",
    )
    # 8 md5 digests -> 32 sliced u32 uniforms -> Poisson(1) weights.
    u = lambda b: md5_int_expr(  # noqa: E731 — mirrors the oracle builder
        f"concat(CAST(o_orderkey AS STRING), '|{b // 4}')", 8, 1 + 8 * (b % 4)
    )
    weighted = base.select(
        "priority",
        "price_cents",
        *[
            F.expr(_poisson_weight_case(u(b))).alias(f"w{b}")
            for b in range(B)
        ],
    )
    agg = weighted.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price_cents").alias("total_cents"),
        *[
            agg_col
            for b in range(B)
            for agg_col in (
                F.sum(f"w{b}").alias(f"c{b}"),
                F.sum(F.col(f"w{b}") * F.col("price_cents")).alias(f"s{b}"),
            )
        ],
    )
    means = F.array_sort(
        F.array(
            *[
                F.expr(f"(10000 * s{b}) div nullif(c{b}, 0)")
                for b in range(B)
            ]
        )
    )
    return agg.select(
        "priority",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.expr("(10000 * total_cents) div n_orders")
        .cast("long")
        .alias("point_micro"),
        F.element_at(means, 2).cast("long").alias("ci_lo_micro"),
        F.element_at(means, B - 1).cast("long").alias("ci_hi_micro"),
    )
