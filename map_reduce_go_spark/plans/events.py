"""Event-time windowing over the events table (batch; SURVEY.md §7.2 M4).

The tumbling, sliding and session window queries are the builders of
:mod:`map_reduce_go_spark.streaming.windows` applied to the events table
plus a column select: the same code runs on a stream, and the oracle
checks it here. The session gap is that module's ``SESSION_GAP_SEC``;
the per-event session numbering exists once per side,
:func:`session_numbers` (engine) and :func:`session_ctes` (oracle).
Window bounds are emitted as BIGINT epoch seconds so the DuckDB oracle
compares timezone-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_go_spark.plans.relational import _dsum_sql, dsum
from map_reduce_go_spark.registry import register
from map_reduce_go_spark.sources.readers import load_table
from map_reduce_go_spark.streaming.windows import (
    SESSION_GAP_SEC,
    session_counts,
    sliding_avg_value,
    tumbling_counts,
)


def session_ctes(**extra: str) -> str:
    """The oracle's gaps-and-islands sessions over ``events``: ``marked``
    flags each event that opens a session and ``numbered`` adds
    ``session_no`` — the twin of :func:`session_numbers`. Both carry
    ``event_id, user_id, ts`` plus one column per ``extra`` name, set to
    its SQL expression."""
    cols = "".join(f", {expr} AS {name}" for name, expr in extra.items())
    names = "".join(f", {name}" for name in extra)
    return f"""marked AS (
      SELECT event_id, user_id, ts{cols},
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL {SESSION_GAP_SEC} SECOND
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT event_id, user_id, ts{names},
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_no
      FROM marked
    )"""


def session_numbers(events: DataFrame) -> DataFrame:
    """``events`` plus ``session_no``, each user's session ordinal (1, 2,
    ...) in ``(ts, event_id)`` order: an event opens a session when it is
    the user's first or comes ``SESSION_GAP_SEC`` or more after the
    previous one. Classic gaps-and-islands — a lag() marks boundaries, a
    running sum numbers them; both windows partition by user_id and sort
    each user's events once. The (ts, event_id) key is unique, so the
    numbering is deterministic cross-engine."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Full-precision gap test (ts carries microseconds): comparing the
    # timestamps directly matches the oracle's INTERVAL comparison exactly;
    # unix_timestamp() would truncate to seconds and disagree on
    # sub-second boundaries.
    new_session = F.when(
        F.lag("ts").over(w).isNull()
        | (F.col("ts") >= F.lag("ts").over(w) + F.expr(f"INTERVAL {SESSION_GAP_SEC} SECOND")),
        1,
    ).otherwise(0)
    return events.withColumn(
        "session_no", F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )


@register(
    "events_tumbling_window",
    oracle=f"""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
           event_type,
           count(*) AS n_events,
           {_dsum_sql('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event type (streaming/windows.py::tumbling_counts)."""
    return tumbling_counts(load_table(spark, sf_dir, "events"))


@register(
    "events_sliding_window",
    oracle="""
    SELECT window_start, event_type, count(*) AS n_events
    FROM (
      SELECT event_type,
             unnest([
               (CAST(floor(epoch(ts) / 1800) AS BIGINT)) * 1800,
               (CAST(floor(epoch(ts) / 1800) AS BIGINT)) * 1800 - 1800
             ]) AS window_start
      FROM events
    ) t
    GROUP BY window_start, event_type
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min (streaming/windows.py::sliding_avg_value):
    each event lands in exactly two windows (the oracle materializes both
    by bucket arithmetic)."""
    windows = sliding_avg_value(load_table(spark, sf_dir, "events"))
    return windows.select("window_start", "event_type", "n_events")


@register(
    "events_session_window",
    oracle=f"""
    WITH {session_ctes()}
    SELECT user_id,
           -- floor: Spark's timestamp->long cast truncates sub-second
           -- precision, DuckDB's double->bigint cast would round.
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           count(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 10-minute (SESSION_GAP_SEC)
    inactivity gap (streaming/windows.py::session_counts).

    Spark's session_window() merges events closer than the gap; the oracle
    derives the identical sessions with the gaps-and-islands construction
    of :func:`session_ctes`.
    """
    return session_counts(load_table(spark, sf_dir, "events"))


@register(
    "events_multi_granularity_rollup",
    oracle=f"""
    SELECT date_trunc('day', ts) AS day,
           CASE WHEN GROUPING(date_trunc('hour', ts)) = 0
                THEN date_trunc('hour', ts) END AS hour,
           count(*) AS n_events,
           {_dsum_sql('value')} AS sum_value
    FROM events
    GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts))
    """,
)
def events_multi_granularity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: hour and day
    granularities (plus grand total) in ONE pass via ROLLUP grouping
    sets — at 100 TB this replaces N separate scans with one, and the
    map-side partial agg compresses each granularity before the shuffle.
    The GROUPING() guard pins NULL semantics to the rollup level (not a
    NULL data value) identically in both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "value",
    )
    return (
        ev.rollup("day", "hour")
        .agg(
            F.grouping("hour").alias("g_hour"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "day",
            F.when(F.col("g_hour") == 0, F.col("hour")).alias("hour"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "events_sessionize",
    oracle=f"""
    WITH {session_ctes()}
    SELECT event_id, user_id, CAST(session_no AS BIGINT) AS session_no,
           CAST(floor(epoch(min(ts) OVER (PARTITION BY user_id, session_no)))
                AS BIGINT) AS session_start
    FROM numbered
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EVENT sessionization: every event labeled with its session
    ordinal and session start — the joinable form of session windows
    (events_session_window only emits per-session aggregates; this emits
    the session id you attach to each event for downstream attribution).

    :func:`session_numbers` numbers the sessions; a third window keyed by
    (user, session_no) carries the session start onto each row. All three
    windows partition by user_id (+ the bounded session_no) — the shuffle
    is one exchange on user_id, reused by every window stage.
    """
    e = load_table(spark, sf_dir, "events")
    numbered = session_numbers(e.select("event_id", "user_id", "ts"))
    ws = Window.partitionBy("user_id", "session_no")
    return numbered.select(
        "event_id",
        "user_id",
        F.col("session_no").cast("long").alias("session_no"),
        F.unix_timestamp(F.min("ts").over(ws)).alias("session_start"),
    )


@register(
    "event_dwell_time_by_type",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               - epoch_us(ts) AS gap_us
      FROM events
    )
    SELECT event_type,
           count(*) AS n_gaps,
           CAST(sum(gap_us) AS BIGINT) AS total_gap_us,
           round(CAST(sum(gap_us) AS DOUBLE) / count(*) / 1000000, 6)
             AS avg_dwell_sec
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def event_dwell_time_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell time per event type: how long users linger on an event before
    their next action (lead(ts) gap, attributed to the event dwelt on) —
    the engagement signal behind session-quality scoring.

    One exchange on user_id feeds the lead() window; the per-type rollup
    is a bounded-cardinality groupBy with map-side partials. Gaps are
    measured in INTEGER microseconds (unix_micros / epoch_us — full
    precision, exact integer sums on both engines); the only float is the
    final rounded mean. Last-event-per-user rows have no successor and
    drop out identically on both sides.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    return (
        e.select("event_type", "user_id", "ts", "event_id")
        .withColumn("gap_us", gap)
        .where(F.col("gap_us").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap_us").alias("total_gap_us"),
            F.round(
                F.sum("gap_us").cast("double") / F.count(F.lit(1)) / 1_000_000, 6
            ).alias("avg_dwell_sec"),
        )
    )


@register(
    "events_hourly_heatmap",
    oracle="""
    WITH h AS (
      SELECT isodow(ts) AS dow, hour(ts) AS hr, count(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS total FROM h)
    SELECT dow, hr, n_events,
           round(CAST(n_events AS DOUBLE) / total, 6) AS share
    FROM h CROSS JOIN tot
    """,
)
def events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap (the load-shape profile that
    sizes cluster autoscaling windows). Spark's weekday() is Monday=0;
    +1 aligns it with DuckDB's isodow (Monday=1) — dayofweek() would NOT
    match (Spark Sunday=1 vs DuckDB Sunday=0). Bounded output (≤168
    cells): one map-side-combinable groupBy plus a broadcast 1-row total;
    all-integer until the rounded share."""
    e = load_table(spark, sf_dir, "events")
    h = (
        e.select((F.weekday("ts") + 1).alias("dow"), F.hour("ts").alias("hr"))
        .groupBy("dow", "hr")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    tot = h.agg(F.sum("n_events").alias("total"))
    return h.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hr",
        "n_events",
        F.round(F.col("n_events").cast("double") / F.col("total"), 6).alias("share"),
    )


@register(
    "union_by_name_schema_evolution",
    oracle=f"""
    WITH unioned AS (
      SELECT * FROM (
        SELECT event_id, event_type, value
        FROM events WHERE event_id % 2 = 0
      )
      UNION ALL BY NAME (
        SELECT event_id, event_type, user_id
        FROM events WHERE event_id % 2 = 1
      )
    )
    SELECT event_type,
           count(*) AS n_events,
           CAST(count(*) FILTER (value IS NULL) AS BIGINT) AS n_missing_value,
           CAST(count(*) FILTER (user_id IS NULL) AS BIGINT) AS n_missing_user,
           {_dsum_sql('value')} AS sum_value
    FROM unioned GROUP BY event_type
    """,
)
def union_by_name_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union (unionByName with allowMissingColumns /
    UNION ALL BY NAME): two generations of the event log — an old feed
    without user_id and a new feed without value — combined by COLUMN
    NAME into the superset schema, absent columns null-filled. This is
    the everyday lakehouse shape: a pipeline reads months of files whose
    schema grew over time and must align by name, never by position (a
    positional UNION would silently pair value with user_id). The
    rollup reports per-type null provenance so the evolution is
    auditable. Scale: name-alignment is a compile-time projection —
    zero runtime cost over a plain union; the only shuffle is the
    bounded per-type rollup."""
    ev = load_table(spark, sf_dir, "events")
    old_gen = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "event_type", "value"
    )
    new_gen = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "event_type", "user_id"
    )
    unioned = old_gen.unionByName(new_gen, allowMissingColumns=True)
    return unioned.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_if(F.col("value").isNull()).alias("n_missing_value"),
        F.count_if(F.col("user_id").isNull()).alias("n_missing_user"),
        dsum("value").alias("sum_value"),
    )


@register(
    "forward_fill_event_values",
    oracle="""
    WITH masked AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT event_id, user_id,
           (v IS NULL) AS was_gap,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM masked
    """,
)
def forward_fill_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill / last-observation-carried-forward (LOCF): gaps in a
    per-user time series (one in five readings deterministically masked
    to NULL) filled with the most recent non-null value — the standard
    repair for sparse sensor/telemetry streams before feature
    extraction. Expressed as last_value ... IGNORE NULLS over a
    running-rows frame: IGNORE NULLS is the whole operator (the plain
    frame would re-null the gaps), and the (ts, event_id) ordering is
    made unique so fill provenance is engine-independent. A user's
    leading gaps stay NULL — LOCF has nothing to carry. Scale: one
    window pass partitioned by user_id — bounded per-user state, the
    same shape as sessionization; no shuffle beyond the user
    partitioning."""
    ev = load_table(spark, sf_dir, "events")
    masked = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return masked.select(
        "event_id",
        "user_id",
        F.col("v").isNull().alias("was_gap"),
        F.last("v", ignorenulls=True).over(w).alias("filled_value"),
    )


@register(
    "dq_hourly_volume_anomalies",
    oracle="""
    WITH hourly AS (
      SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
             count(*) AS n_events
      FROM events GROUP BY 1
    ),
    stats AS (
      SELECT count(*) AS n_hours,
             CAST(sum(n_events) AS BIGINT) AS s1,
             CAST(sum(n_events * n_events) AS BIGINT) AS s2
      FROM hourly
    )
    SELECT h.hour_epoch, h.n_events,
           round((h.n_events - CAST(s.s1 AS DOUBLE) / s.n_hours)
                 / nullif(sqrt(CAST(s.s2 AS DOUBLE) / s.n_hours
                               - (CAST(s.s1 AS DOUBLE) / s.n_hours)
                                 * (CAST(s.s1 AS DOUBLE) / s.n_hours)), 0),
                 6) AS zscore,
           CASE WHEN abs((h.n_events - CAST(s.s1 AS DOUBLE) / s.n_hours)
                 / nullif(sqrt(CAST(s.s2 AS DOUBLE) / s.n_hours
                               - (CAST(s.s1 AS DOUBLE) / s.n_hours)
                                 * (CAST(s.s1 AS DOUBLE) / s.n_hours)), 0)) > 3
                THEN 1 ELSE 0 END AS is_anomaly
    FROM hourly h CROSS JOIN stats s
    """,
)
def dq_hourly_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-volume anomaly detection: every hour's event count z-scored
    against the corpus's hourly distribution, with a |z| > 3 flag — the
    pipeline-health monitor that catches a dead producer (volume crater)
    or a replay storm (spike) before they poison downstream statistics.

    The moments come from exact integer power sums over the (tiny) hourly
    rollup — the zscore_doclen_by_source discipline — so mean, stddev,
    and every z are single double expressions over identical integers in
    both engines; nullif guards the constant-volume corpus. Two
    aggregations (events → hours, hours → one stats row broadcast back);
    the fact-sized shuffle moves (hour, partial count) pairs only. At
    100 TB this runs per ingest batch for pennies — the hourly rollup is
    already thousands of times smaller than the stream.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    stats = hourly.agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n_events").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_hours")
    std = F.sqrt(F.col("s2").cast("double") / F.col("n_hours") - mean * mean)
    z = (F.col("n_events") - mean) / F.nullif(std, F.lit(0.0))
    return hourly.crossJoin(F.broadcast(stats)).select(
        "hour_epoch",
        "n_events",
        F.round(z, 6).alias("zscore"),
        F.when(F.abs(z) > 3, 1).otherwise(0).alias("is_anomaly"),
    )


@register(
    "new_users_daily_cumulative",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS first_day
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT first_day AS day, count(*) AS new_users
      FROM firsts GROUP BY first_day
    )
    SELECT CAST(day AS VARCHAR) AS day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cumulative_users
    FROM daily
    """,
)
def new_users_daily_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: new users per day (first-ever event) and the
    cumulative user count — the top line of every product dashboard.

    The naive form (COUNT DISTINCT over an expanding window) re-scans
    per day; this plan is one min-aggregate per user (map-side
    combinable), a day-cardinality rollup, and a running sum over the
    CALENDAR-sized frame — the global window is over days, not users,
    so the single-partition exchange it implies is a few thousand rows
    at any corpus size. Day emitted as its ISO string (dtype-proof
    across the comparison harness).
    """
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min("ts").cast("date").alias("first_day"))
    daily = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.col("day").cast("string").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


@register(
    "order_backlog_daily",
    oracle="""
    WITH spans AS (
      -- greatest(): a ship date BEFORE the order date (present in dirty
      -- feeds, and in this fixture) would make a BACKWARDS interval that
      -- sends the sweep-line count negative; clamp to same-day close.
      SELECT o.o_orderkey,
             CAST(o.o_orderdate AS DATE) AS start_day,
             greatest(CAST(max(l.l_shipdate) AS DATE),
                      CAST(o.o_orderdate AS DATE)) AS end_day
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, start_day
    ),
    deltas AS (
      SELECT start_day AS day, 1 AS d FROM spans
      UNION ALL
      -- CAST back to DATE: DATE + INTERVAL promotes to TIMESTAMP in
      -- DuckDB, which would change the emitted day string.
      SELECT CAST(end_day + INTERVAL 1 DAY AS DATE), -1 FROM spans
    ),
    net AS (
      SELECT day, CAST(sum(d) AS BIGINT) AS net FROM deltas GROUP BY day
    )
    SELECT CAST(day AS VARCHAR) AS day, net,
           CAST(sum(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_open
    FROM net
    """,
)
def order_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time — the interval-stabbing query ("how
    many orders were in flight on day d") solved with the sweep-line
    delta trick: +1 at each order's start day, −1 the day after its last
    line ships, then one running sum. Emitted at delta days only (the
    backlog is constant between them); n_open is the end-of-day count.

    The fact-sized work is one join + one per-order max (both
    map-side-combinable on the order key); the running sum rides the
    DAY-cardinality delta frame, so the global window is calendar-sized
    — the same aggregate-first discipline as ewma_daily_revenue. A
    per-day interval join (spine × orders with BETWEEN) would be
    calendar × fact work and is exactly what this shape avoids at
    100 TB.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    spans = (
        o.join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("start_day"))
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("last_ship"))
        # Clamp backwards intervals (ship date before order date —
        # dirty-feed reality) to a same-day close; an unclamped backwards
        # span emits its −1 before its +1 and corrupts every day between.
        .select(
            "start_day", F.greatest("last_ship", "start_day").alias("end_day")
        )
    )
    # Each span emits its +1/-1 pair via ONE map-side explode — a
    # unionAll of two projections reads clean but makes Catalyst plan
    # the orders x lineitem span build TWICE (plan-audited: 4 scans).
    deltas = spans.select(
        F.explode(
            F.array(
                F.struct(F.col("start_day").alias("day"), F.lit(1).alias("d")),
                F.struct(
                    F.date_add("end_day", 1).alias("day"), F.lit(-1).alias("d")
                ),
            )
        ).alias("e")
    ).select("e.day", "e.d")
    net = deltas.groupBy("day").agg(F.sum("d").cast("long").alias("net"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return net.select(
        F.col("day").cast("string").alias("day"),
        "net",
        F.sum("net").over(w).cast("long").alias("n_open"),
    )


def rolling_distinct_over(user_days: DataFrame, window_days: int) -> DataFrame:
    """Trailing-N-day distinct count per observed day via
    contribute-then-count: each (user_id, day) rollup row contributes
    itself to the ``window_days`` report days it can influence (bounded
    map-side explode of the ROLLUP, never the fact table), report days
    are semi-joined to observed days, and one keyed exact distinct
    closes it. This is the scalable shape for sliding COUNT(DISTINCT),
    which no window frame supports (distinct state cannot merge
    incrementally). Shared by rolling_7d_distinct_users (N=7) and
    dau_mau_stickiness (N=28); hypothesis-tested against a brute-force
    per-day evaluator on generated inputs."""
    observed = user_days.select("day").distinct()
    contrib = user_days.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), window_days - 1))
        ).alias("report_day"),
    )
    return (
        contrib.join(
            F.broadcast(observed),
            contrib["report_day"] == observed["day"],
            "left_semi",
        )
        .groupBy("report_day")
        .agg(F.countDistinct("user_id").alias("n_distinct"))
    )


@register(
    "rolling_7d_distinct_users",
    oracle="""
    WITH user_days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    days AS (SELECT DISTINCT day FROM user_days)
    SELECT CAST(d.day AS VARCHAR) AS day,
           count(DISTINCT u.user_id) AS u7
    FROM days d
    JOIN user_days u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
)
def rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the rolling-MAU
    family of engagement metric. COUNT(DISTINCT) over a sliding RANGE
    frame is unsupported by window functions in both engines (distinct
    state can't merge incrementally), so the scalable plan is
    contribute-then-count: each observed (user, day) pair contributes
    itself to the 7 report days it can influence, then one keyed
    distinct-count per report day.

    The fact-table work is one distinct projection down to (user, day)
    — at most users × days rows, crushingly smaller than raw events.
    The explode is a BOUNDED 7× replication of that rollup (vs. the
    oracle's spine × user_days range join, which DuckDB can afford at
    sf0.01 but which is calendar × rollup work at 100 TB), and the
    final count-distinct shuffles once on report day. Report days are
    semi-joined to OBSERVED days so both engines emit the same spine.
    """
    from map_reduce_go_spark.functions.caching import tracked_cache

    e = load_table(spark, sf_dir, "events")
    # Cached for the same reason as dau_mau_stickiness: the rollup
    # feeds both the contribution explode and the observed-day spine.
    user_days = tracked_cache(
        e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    )
    return rolling_distinct_over(user_days, 7).select(
        F.col("report_day").cast("string").alias("day"),
        F.col("n_distinct").alias("u7"),
    )


@register(
    "time_weighted_avg_value_per_user",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             CAST(floor(value * 1000000) AS BIGINT) AS value_micro,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               - epoch_us(ts) AS dur_us
      FROM events
    )
    SELECT user_id,
           count(*) AS n_intervals,
           CAST(sum(dur_us) AS BIGINT) AS total_dur_us,
           CAST(sum(CAST(value_micro AS HUGEINT) * dur_us)
                  // sum(CAST(dur_us AS HUGEINT)) AS BIGINT) AS twa_micro
    FROM seq
    WHERE dur_us IS NOT NULL
    GROUP BY user_id
    HAVING sum(dur_us) > 0
    """,
)
def time_weighted_avg_value_per_user(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-weighted average event value per user (TWAP): each reading
    holds until the user's next event, so its weight is that interval's
    duration in seconds — the correct average for irregularly-sampled
    gauges (balances, queue depths, prices), where the plain AVG
    over-weights bursts.

    One shuffle on user_id drives both the lead() interval build and
    the aggregate (same partitioning, no second exchange). Weights and
    values are integers — value floored to micro-units by the identical
    IEEE expression on both engines, durations in exact MICROSECONDS
    (unix_micros / epoch_us; whole-second truncation would round
    differently across engines) — and the weighted mean is one integer
    floor-division per user at emission (all-positive: fixture values
    are > 0 and lead() makes durations non-negative), so the hash
    boundary sees no float. The decimal(38) accumulator survives
    value_micro ~1e9 × dur ~1e13 µs × millions of events per key far
    past sf1000.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.floor(F.col("value") * 1000000).cast("long").alias("value_micro"),
        (
            F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")
        ).alias("dur_us"),
    ).where(F.col("dur_us").isNotNull())
    return (
        seq.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dur_us").cast("long").alias("total_dur_us"),
            F.sum(
                F.col("value_micro").cast("decimal(38,0)") * F.col("dur_us")
            ).alias("wv"),
        )
        .where(F.col("total_dur_us") > 0)
        .select(
            "user_id",
            "n_intervals",
            "total_dur_us",
            F.expr("wv div CAST(total_dur_us AS DECIMAL(38,0))")
            .cast("long")
            .alias("twa_micro"),
        )
    )


@register(
    "first_last_touch_attribution",
    oracle="""
    WITH fp AS (
      SELECT user_id, min(ts) AS first_purchase
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    touches AS (
      SELECT e.user_id, e.event_type,
             row_number() OVER (PARTITION BY e.user_id
                                ORDER BY e.ts, e.event_id) AS rn_first,
             row_number() OVER (PARTITION BY e.user_id
                                ORDER BY e.ts DESC, e.event_id DESC) AS rn_last
      FROM events e JOIN fp ON fp.user_id = e.user_id
      WHERE e.ts < fp.first_purchase
    )
    SELECT f.event_type AS first_touch, l.event_type AS last_touch,
           count(*) AS n_users
    FROM touches f JOIN touches l
      ON l.user_id = f.user_id AND l.rn_last = 1
    WHERE f.rn_first = 1
    GROUP BY 1, 2
    """,
)
def first_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch attribution matrix: for every user who
    purchased, the type of their FIRST event and of their LAST event
    before their first purchase, cross-tabulated — the report marketing
    runs to see how much the two attribution models disagree (diagonal
    = models agree; off-diagonal mass = contested credit).

    The purchase anchor is a keyed min-agg (map-side combinable); both
    endpoints come from ONE min/max-struct aggregate over the joined
    pre-purchase events — (ts, event_id) leads the struct, and since
    that pair is unique per user, lexicographic min/max IS the window
    endpoint pick, without materializing two ranked subtrees. (The
    first formulation — two opposite-order row_numbers filtered to
    rn=1 and self-joined — read clean but Catalyst planned the events
    scan, the anchor aggregate, and the window TWICE, once per
    endpoint; the struct-extreme form is one scan, one user shuffle.)
    The matrix rollup is event-type² rows. The oracle keeps the
    window formulation, so the value hash also certifies that the
    struct-extreme and rank-pick semantics coincide.
    """
    e = load_table(spark, sf_dir, "events")
    fp = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    endpoint = F.struct("ts", "event_id", "event_type")
    ends = (
        e.join(fp, "user_id")
        .where(F.col("ts") < F.col("first_purchase"))
        .groupBy("user_id")
        .agg(
            F.min(endpoint).alias("first_e"),
            F.max(endpoint).alias("last_e"),
        )
    )
    return ends.groupBy(
        F.col("first_e.event_type").alias("first_touch"),
        F.col("last_e.event_type").alias("last_touch"),
    ).agg(F.count(F.lit(1)).alias("n_users"))


@register(
    "dau_mau_stickiness",
    oracle="""
    WITH user_days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    days AS (SELECT DISTINCT day FROM user_days),
    dau AS (
      SELECT day, count(*) AS dau FROM user_days GROUP BY day
    ),
    mau AS (
      SELECT d.day, count(DISTINCT u.user_id) AS mau
      FROM days d
      JOIN user_days u ON u.day BETWEEN d.day - 27 AND d.day
      GROUP BY d.day
    )
    SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau AS dau, mau.mau AS mau,
           CAST((1000000 * dau.dau) // mau.mau AS BIGINT) AS stickiness_ppm
    FROM dau JOIN mau ON mau.day = dau.day
    """,
)
def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day — daily actives over trailing-28-day
    actives, the engagement ratio product teams track (1.0 = every
    monthly user shows up daily). Composes the contribute-then-count
    sliding-distinct pattern of rolling_7d_distinct_users at the 28-day
    horizon with a per-day exact distinct, joined on the observed-day
    spine; the ratio is integer ppm (dau ≤ mau so the floor-div is
    all-positive and engine-exact).

    Fact-sized work is ONE distinct projection to (user, day); the 28×
    contribution explode replicates only that rollup, and both distinct
    counts shuffle once on day. At 100 TB the (user, day) rollup is the
    operand everywhere — raw events are scanned exactly once.
    """
    from map_reduce_go_spark.functions.caching import tracked_cache

    e = load_table(spark, sf_dir, "events")
    # The (user, day) rollup feeds THREE branches (daily count, 28-day
    # contribution, observed-day spine); uncached, Catalyst plans the
    # events scan once per branch (plan-audited: 3 scans). The rollup is
    # actives x days — cache THAT, never the fact table.
    user_days = tracked_cache(
        e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    )
    dau = user_days.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    mau = rolling_distinct_over(user_days, 28).select(
        "report_day", F.col("n_distinct").alias("mau")
    )
    return (
        dau.join(mau, dau["day"] == mau["report_day"])
        .select(
            F.col("day").cast("string").alias("day"),
            "dau",
            "mau",
            F.expr("(1000000 * dau) div mau").alias("stickiness_ppm"),
        )
    )


@register(
    "session_path_patterns",
    oracle=f"""
    WITH {session_ctes(ini="substring(event_type, 1, 1)")},
    paths AS (
      SELECT user_id, session_no,
             string_agg(ini, '' ORDER BY ts, event_id) AS path
      FROM numbered GROUP BY user_id, session_no
    )
    SELECT substring(path, 1, 1) AS entry_type,
           count(*) AS n_sessions,
           count(*) FILTER (WHERE regexp_matches(path, 'v.*c.*p'))
             AS n_funnel_sessions,
           count(*) FILTER (WHERE regexp_matches(path, 'cc|ee|pp|ss|vv'))
             AS n_repeat_sessions,
           CAST(max(len(path)) AS BIGINT) AS max_session_len
    FROM paths GROUP BY 1
    """,
)
def session_path_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path-pattern mining: encode each session as its ordered
    event-initial string (v=view, c=click, p=purchase, s=signup,
    e=error) and count, per session entry type, how many sessions
    match the view→click→purchase funnel REGEX and how many contain an
    immediate repeat — sequence questions (ordering + adjacency) that
    keyed aggregates like funnel_view_click_purchase cannot express,
    answered as regular-expression matches over the path encoding.

    Sessionization is :func:`session_numbers` (one user shuffle reused
    by both windows); path assembly sorts only WITHIN a session group
    (bounded by session length — never a global sort), and the pattern
    screen is map-side regex over session-count rows. The repeat
    pattern is spelled as an alternation, not a backreference, because
    DuckDB's RE2 has no backrefs — the portable-regex subset is part of
    the operator's contract.
    """
    e = load_table(spark, sf_dir, "events")
    numbered = session_numbers(
        e.select("user_id", "ts", "event_id", F.substring("event_type", 1, 1).alias("ini"))
    )
    paths = numbered.groupBy("user_id", "session_no").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("ts", "event_id", "ini"))),
                lambda s: s["ini"],
            ),
            "",
        ).alias("path")
    )
    return paths.groupBy(
        F.substring("path", 1, 1).alias("entry_type")
    ).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count(F.when(F.col("path").rlike("v.*c.*p"), 1)).alias(
            "n_funnel_sessions"
        ),
        F.count(F.when(F.col("path").rlike("cc|ee|pp|ss|vv"), 1)).alias(
            "n_repeat_sessions"
        ),
        F.max(F.length("path")).cast("long").alias("max_session_len"),
    )


@register(
    "weekly_activity_bitmap",
    oracle="""
    WITH perweek AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) // 7 AS week_idx,
             bit_or(1 << dayofweek(ts)) AS pattern
      FROM events GROUP BY user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) // 7
    )
    SELECT pattern,
           CAST(bit_count(pattern) AS INT) AS days_active,
           count(*) AS n_user_weeks
    FROM perweek GROUP BY pattern
    """,
)
def weekly_activity_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-activity fingerprints: per (user, week) a 7-bit bitmap of
    which weekdays saw any activity (bit_or of 1<<dow), then the corpus
    histogram of those patterns — the compact engagement-shape rollup
    (weekday-only users, weekend-only users, daily users) that feeds
    cohorting without storing per-day rows.

    Scale shape: the bitmap build is ONE map-side-combinable bit_or agg
    keyed (user, week) — bitwise OR is associative/commutative, so
    partial aggregation compacts each partition to one int per key before
    the shuffle; the pattern histogram is a second tiny agg over ≤128
    distinct patterns. All integer — exact cross-engine. Weeks are epoch
    days div 7 and weekdays Spark's dayofweek-1 (Sunday=0), matching
    DuckDB's dayofweek, both independent of session timezone under the
    pinned-UTC sessions.
    """
    e = load_table(spark, sf_dir, "events")
    perweek = e.select(
        "user_id",
        F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT) div 7").alias(
            "week_idx"
        ),
        F.expr("shiftleft(1, dayofweek(ts) - 1)").alias("day_bit"),
    )
    bitmaps = perweek.groupBy("user_id", "week_idx").agg(
        F.bit_or("day_bit").alias("pattern")
    )
    return bitmaps.groupBy("pattern").agg(
        F.bit_count("pattern").cast("int").alias("days_active"),
        F.count(F.lit(1)).alias("n_user_weeks"),
    )


@register(
    "churn_weekly_rates",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) // 7 AS week_idx
      FROM events
    ),
    horizon AS (SELECT max(week_idx) AS max_week FROM uw)
    SELECT a.week_idx,
           count(*) AS n_active,
           CAST(sum(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_churned,
           CAST(sum(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS churn_ppm
    FROM uw a
    LEFT JOIN uw b ON b.user_id = a.user_id AND b.week_idx = a.week_idx + 1
    WHERE a.week_idx < (SELECT max_week FROM horizon)
    GROUP BY a.week_idx
    """,
)
def churn_weekly_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly churn: of the users active in week w, how many produce no
    event in week w+1 — the retention KPI. The horizon's last week is
    excluded (its following week is unobserved, not churned).

    Scale shape: ONE distinct (user, week) rollup is cached and reused
    for both sides of the churn self-join (co-keyed on user_id — at
    100 TB both sides arrive pre-bucketed if the rollup persists bucketed
    by user) and for the max-week scalar; the fact table is scanned once.
    The join input is users x weeks, orders of magnitude below the event
    count, and the churn test is a LEFT join null-probe. All counters and
    the ppm rate are exact integers.
    """
    from map_reduce_go_spark.functions.caching import tracked_cache

    e = load_table(spark, sf_dir, "events")
    uw = (
        e.select(
            "user_id",
            F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT) div 7").alias(
                "week_idx"
            ),
        )
        .distinct()
        .transform(tracked_cache)
    )
    max_week = uw.agg(F.max("week_idx").alias("max_week"))
    nxt = uw.select(
        F.col("user_id").alias("n_user_id"), F.col("week_idx").alias("n_week_idx")
    )
    joined = uw.join(
        nxt,
        (F.col("n_user_id") == F.col("user_id"))
        & (F.col("n_week_idx") == F.col("week_idx") + 1),
        "left",
    )
    return (
        joined.crossJoin(F.broadcast(max_week))
        .where(F.col("week_idx") < F.col("max_week"))
        .groupBy("week_idx")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(F.when(F.col("n_user_id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_churned"),
        )
        .select(
            "week_idx",
            "n_active",
            "n_churned",
            F.expr("n_churned * 1000000 div n_active").alias("churn_ppm"),
        )
    )
