"""Temporal join operators: as-of join and range join.

Spark has no native ASOF or range join operator; these are the canonical
compositions (SURVEY.md §7.1 custom-operator path (a): composition of
existing DataFrame ops — no UDF, no custom strategy needed):

- **as-of join** = union both sides tagged, one window pass per key carrying
  the last observation forward. O(n log n) per key via the window sort, no
  range cross-join blowup — this is the standard scalable formulation.
- **range join** = coarse time-bucket equi-join (bucket width = range span,
  probe side exploded into the two covering buckets) + exact range filter.
  Turns an unbounded theta-join into an equi-join AQE can plan; bucket
  width is the selectivity knob.

Both are oracle-checked: DuckDB has native ASOF JOIN and can afford the
naive inequality join at fixture scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_go_spark.registry import register
from map_reduce_go_spark.sources.readers import load_table
from map_reduce_go_spark.streaming.windows import ATTRIBUTION_LOOKBACK_MIN, purchase_click_join


@register(
    "asof_join_purchase_to_click",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS last_click_epoch
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_purchase_to_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the same user's most recent
    click at-or-before it (NULL if none) — attribution, the classic as-of
    workload.

    Plan: union(click, purchase) -> single window per user ordered by
    (ts, tag) -> last(click_ts) carried forward. One shuffle on user_id;
    clicks sort before purchases at equal ts so "at-or-before" includes
    same-instant clicks, matching ASOF's >= bound.
    """
    e = load_table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(0).alias("tag"), F.col("ts").alias("click_ts"),
        F.lit(None).cast("long").alias("event_id"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("tag"),
        F.lit(None).cast("timestamp").alias("click_ts"), "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = clicks.unionByName(purchases).withColumn(
        "last_click_ts", F.last("click_ts", ignorenulls=True).over(w)
    )
    return merged.where(F.col("tag") == 1).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_timestamp("ts").alias("purchase_epoch"),
        F.unix_timestamp("last_click_ts").alias("last_click_epoch"),
    )


_RANGE_SEC = 300  # 5-minute lookback


@register(
    "range_join_error_click_counts",
    oracle=f"""
    SELECT a.event_id AS error_id, a.user_id, count(*) AS clicks_in_window
    FROM (SELECT * FROM events WHERE event_type = 'error') a
    JOIN (SELECT * FROM events WHERE event_type = 'click') b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts - INTERVAL {_RANGE_SEC} SECOND
     AND b.ts <= a.ts
    GROUP BY a.event_id, a.user_id
    """,
)
def range_join_error_click_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: clicks by the same user in the 5 minutes before each
    error (errors with zero preceding clicks drop out — inner semantics).

    Plan: both sides bucketed by floor(epoch/range); the probe (click) side
    is exploded into the two buckets its match window can span, turning the
    theta-join into an equi-join on (user_id, bucket) + exact filter.
    """
    e = load_table(spark, sf_dir, "events")
    bucket = (F.unix_timestamp("ts") / _RANGE_SEC).cast("long")
    errors = e.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("err_ts"),
        bucket.alias("bk"),
    )
    clicks = (
        e.where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("ts").alias("click_ts"),
            F.explode(F.array(bucket, bucket + 1)).alias("bk"),
        )
    )
    return (
        errors.join(clicks, ["user_id", "bk"])
        .where(
            (F.col("click_ts") >= F.col("err_ts") - F.expr(f"INTERVAL {_RANGE_SEC} SECOND"))
            & (F.col("click_ts") <= F.col("err_ts"))
        )
        .groupBy("error_id", "user_id")
        .agg(F.count(F.lit(1)).alias("clicks_in_window"))
    )


HIGH_VALUE_CUTOFF = 450_000


@register(
    "order_month_gapfill",
    oracle=f"""
    WITH span AS (
      SELECT date_trunc('month', min(o_orderdate)) AS mn,
             date_trunc('month', max(o_orderdate)) AS mx
      FROM orders
    ),
    spine AS (
      SELECT unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS month FROM span
    ),
    hv AS (
      SELECT c_nationkey, date_trunc('month', o_orderdate) AS month,
             count(*) AS n_orders,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_totalprice > {HIGH_VALUE_CUTOFF}
      GROUP BY c_nationkey, date_trunc('month', o_orderdate)
    )
    SELECT n.n_name, s.month,
           CAST(coalesce(hv.n_orders, 0) AS BIGINT) AS n_orders,
           round(CAST(coalesce(hv.rev, 0) AS DOUBLE), 2) AS revenue
    FROM nation n CROSS JOIN spine s
    LEFT JOIN hv ON hv.c_nationkey = n.n_nationkey AND hv.month = s.month
    """,
)
def order_month_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill: a dense nation x month matrix of high-value
    order activity, with months that saw no qualifying orders present as
    explicit zero rows. Dashboards, trend models, and anomaly detectors
    all need the dense grid — a plain GROUP BY silently drops empty
    cells. The month spine is generated from the data's own min/max
    (sequence() + explode — Spark's generate_series), cross-joined with
    the bounded nation dim, then LEFT-joined against the sparse
    aggregate; the fact-table work is one filtered groupBy. Revenue
    stays exact decimal through the aggregate; COALESCE zero-fills
    before the single double emission. Scale: the spine is
    dims x months (thousands of rows — broadcast side), the sparse agg
    shuffles only qualifying orders, and the gap-fill join is a
    broadcast hash join; nothing here scans the fact table twice."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    span = o.agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("mn"),
        F.date_trunc("month", F.max("o_orderdate")).alias("mx"),
    )
    spine = span.select(
        F.explode(F.expr("sequence(mn, mx, interval 1 month)")).alias("month")
    )
    hv = (
        o.filter(F.col("o_totalprice") > HIGH_VALUE_CUTOFF)
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "c_nationkey", F.date_trunc("month", F.col("o_orderdate")).alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
        )
        .withColumnRenamed("month", "hv_month")
    )
    grid = n.crossJoin(F.broadcast(spine))
    return (
        grid.join(
            hv,
            (F.col("c_nationkey") == F.col("n_nationkey"))
            & (F.col("hv_month") == F.col("month")),
            "left",
        )
        .select(
            "n_name",
            "month",
            F.coalesce(F.col("n_orders"), F.lit(0)).cast("bigint").alias("n_orders"),
            F.round(
                F.coalesce(F.col("rev"), F.lit(0)).cast("double"), 2
            ).alias("revenue"),
        )
    )


@register(
    "purchase_click_attribution_outer",
    oracle=f"""
    WITH clicks AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id AS purchase_id,
           p.user_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch
    FROM purchases p
    LEFT JOIN clicks c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL {ATTRIBUTION_LOOKBACK_MIN} MINUTE
     AND c.ts <= p.ts
    """,
)
def purchase_click_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution interval join, outer form: EVERY purchase, paired with
    the same user's clicks in the preceding 5 minutes
    (ATTRIBUTION_LOOKBACK_MIN) — and emitted with NULL click columns when
    unattributed (the rows an inner attribution join silently drops, which
    is exactly the conversion set a marketing report must not lose).

    This registers the SAME transformation the Structured Streaming path
    runs (streaming/windows.py::purchase_click_join, left outer — the
    stream==batch equality test ties the two executions together), so the
    driver's value-hash gate covers the streaming operator's semantics
    through its batch twin. The join is user-keyed with an event-time
    interval bound — co-partitioned on user_id in batch, watermark-expired
    state in streaming; the bound is the scale contract in both.
    """
    events = load_table(spark, sf_dir, "events")
    return purchase_click_join(events, "left_outer").drop("click_id")


@register(
    "survival_order_fulfillment",
    oracle="""
    WITH per_order AS (
      SELECT o.o_orderkey,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(min(l.l_shipdate) AS DATE)) AS t,
             CASE WHEN o.o_orderstatus <> 'O' THEN 1 ELSE 0 END AS event
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderstatus
    ),
    tot AS (SELECT count(*) AS n FROM per_order),
    per_day AS (
      SELECT t AS day, CAST(sum(event) AS BIGINT) AS n_events,
             CAST(sum(1 - event) AS BIGINT) AS n_censored
      FROM per_order GROUP BY t
    ),
    km AS (
      SELECT day, n_events, n_censored,
             CAST(tot.n - coalesce(sum(n_events + n_censored) OVER
               (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS n_at_risk
      FROM per_day, tot
    ),
    terms AS (
      SELECT day, n_events, n_censored, n_at_risk,
             1.0 - CAST(n_events AS DOUBLE) / n_at_risk AS term
      FROM km
    )
    SELECT day, n_at_risk, n_events, n_censored,
           CASE WHEN max(CASE WHEN term <= 0 THEN 1 ELSE 0 END) OVER
                  (ORDER BY day ROWS UNBOUNDED PRECEDING) = 1
                THEN 0.0
                ELSE round(exp(sum(CASE WHEN term > 0 THEN ln(term) END)
                       OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)), 6)
           END AS survival
    FROM terms
    """,
)
def survival_order_fulfillment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of time-to-first-shipment: for each
    delay t (days from order date to the order's first shipped line),
    the probability an order is still unshipped after t days. Orders
    with status 'O' (open) are right-censored at their observed first
    ship time — they leave the risk set without counting as events, the
    thing that distinguishes KM from a plain complementary ECDF.
    (The synthetic fixture draws ship dates independently of order
    dates, so negative delays occur; the curve is well-defined over any
    integer day domain and both engines use the same one.)

    S(t) = Π_{u≤t} (1 − d_u / n_u); if a day consumes the whole risk set
    (term = 0) the curve is pinned to exactly 0.0 from that day on —
    guarded explicitly (zero terms are excluded from the log-sum and the
    curve forced to 0.0) because ln(0) is NULL in Spark but an ERROR in
    DuckDB.

    Scale shape: the fact joins/aggregates to a PER-ORDER rollup (all
    map-side-combinable), then to a PER-DAY rollup bounded by the
    calendar span (the documented bounded-domain case for the
    unpartitioned cumulative window — thousands of rows, not corpus
    rows); the grand total is one broadcast scalar. ln/exp keep the
    running product a running SUM in identical day order on both
    engines, so float drift is sub-6dp.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderstatus")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            F.datediff(
                F.col("first_ship").cast("date"), F.col("o_orderdate").cast("date")
            )
            .cast("long")
            .alias("t"),
            F.when(F.col("o_orderstatus") != "O", 1).otherwise(0).alias("event"),
        )
    )
    # Cache the DAY rollup (calendar-bounded) and derive the grand total
    # from it, so the fact join runs exactly once (scan-count audited).
    from map_reduce_go_spark.functions.caching import tracked_cache

    per_day = tracked_cache(
        per_order.groupBy(F.col("t").alias("day")).agg(
            F.sum("event").cast("long").alias("n_events"),
            F.sum(1 - F.col("event")).cast("long").alias("n_censored"),
        )
    )
    tot = per_day.agg(
        F.sum(F.col("n_events") + F.col("n_censored")).cast("long").alias("n")
    )
    w_prev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    km = per_day.crossJoin(F.broadcast(tot)).withColumn(
        "n_at_risk",
        F.col("n")
        - F.coalesce(
            F.sum(F.col("n_events") + F.col("n_censored")).over(w_prev), F.lit(0)
        ),
    )
    terms = km.withColumn(
        "term",
        F.lit(1.0) - F.col("n_events").cast("double") / F.col("n_at_risk"),
    )
    return terms.select(
        "day",
        "n_at_risk",
        "n_events",
        "n_censored",
        F.when(
            F.max(F.when(F.col("term") <= 0, 1).otherwise(0)).over(w_cum) == 1,
            F.lit(0.0),
        )
        .otherwise(
            F.round(
                F.exp(
                    F.sum(F.when(F.col("term") > 0, F.log("term"))).over(w_cum)
                ),
                6,
            )
        )
        .alias("survival"),
    )


_SCD2_BROWSE_SQL = """
    browse AS (SELECT * FROM events WHERE event_type <> 'purchase'),
    ordered AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER w AS prev_type
      FROM browse
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    islands AS (
      SELECT user_id, ts, event_type,
             CAST(sum(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                           THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
      FROM ordered
    ),
    versions AS (
      SELECT user_id, version, event_type,
             CAST(floor(epoch(min(ts))) AS BIGINT) AS valid_from_epoch
      FROM islands
      GROUP BY user_id, version, event_type
    ),
    scd2 AS (
      SELECT user_id, version, event_type, valid_from_epoch,
             lead(valid_from_epoch) OVER (PARTITION BY user_id
                                          ORDER BY version) AS valid_to_epoch
      FROM versions
    )
"""


@register(
    "purchase_scd2_state_lookup",
    oracle=f"""
    WITH {_SCD2_BROWSE_SQL}
    SELECT p.event_id AS purchase_id,
           p.user_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
           s.version,
           s.event_type AS browse_state
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN scd2 s
      ON s.user_id = p.user_id
     AND s.valid_from_epoch <= CAST(floor(epoch(p.ts)) AS BIGINT)
     AND (s.valid_to_epoch IS NULL
          OR CAST(floor(epoch(p.ts)) AS BIGINT) < s.valid_to_epoch)
    """,
)
def purchase_scd2_state_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-VERSIONED-dimension temporal lookup: each purchase
    resolves the SCD Type-2 "browsing state" version (runs of
    consecutive equal non-purchase event types, built by the registered
    scd2_over transformation) that was valid AT THE PURCHASE'S EVENT
    TIME — the temporal dimension join every warehouse with Type-2 dims
    runs on every fact load (joining on the key alone would attach
    today's attributes to yesterday's facts). Purchases before a user's
    first browse run resolve to NULL; half-open [from, to) validity
    makes the match unique, and a zero-length version (two runs starting
    within the same epoch second) can never match, on either engine.

    Plan: NOT an inequality join. The scalable as-of formulation (this
    module's asof_join technique applied to SCD2): union dim-version
    starts with fact probes, ONE window per user ordered by
    (t, dim-before-probe, version) carrying the last version forward,
    then keep probes. One shuffle on user_id, per-key state = one
    carried struct; an inequality join would be a per-user cross
    product, and at 100 TB the dim may be far too big to broadcast.
    """
    from map_reduce_go_spark.plans.warehouse import scd2_over

    e = load_table(spark, sf_dir, "events")
    dim = scd2_over(e.where(F.col("event_type") != "purchase")).select(
        "user_id",
        F.col("valid_from_epoch").alias("t"),
        F.lit(0).alias("tag"),
        "version",
        F.col("event_type").alias("browse_state"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    probes = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_timestamp("ts").alias("t"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("version"),
        F.lit(None).cast("string").alias("browse_state"),
        F.col("event_id").alias("purchase_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t"), F.col("tag"), F.col("version").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = dim.unionByName(probes).select(
        "user_id",
        "t",
        "tag",
        "purchase_id",
        F.last("version", ignorenulls=True).over(w).alias("version"),
        F.last("browse_state", ignorenulls=True).over(w).alias("browse_state"),
    )
    return carried.where(F.col("tag") == 1).select(
        "purchase_id",
        "user_id",
        F.col("t").alias("purchase_epoch"),
        "version",
        "browse_state",
    )
