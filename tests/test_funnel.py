"""Semantic invariants for the funnel / retention operators beyond the
oracle value-hash: stage ordering, offset bounds, cohort alignment."""

from pyspark.sql import functions as F

from map_reduce_go_spark.plans.funnel import (
    cohort_hourly_retention,
    funnel_view_click_purchase,
)


def test_funnel_stage_ordering(spark, sf_dir):
    """Stages must be reached in order: view <= click <= purchase, and
    stages_completed must agree with which epochs are populated."""
    out = funnel_view_click_purchase(spark, sf_dir).cache()
    assert out.where(F.col("view_epoch").isNull()).count() == 0
    assert (
        out.where(
            F.col("click_epoch").isNotNull()
            & (F.col("click_epoch") < F.col("view_epoch"))
        ).count()
        == 0
    )
    assert (
        out.where(
            F.col("purchase_epoch").isNotNull()
            & (F.col("purchase_epoch") < F.col("click_epoch"))
        ).count()
        == 0
    )
    # purchase requires click (stage 3 implies stage 2 was reached).
    assert (
        out.where(
            F.col("purchase_epoch").isNotNull() & F.col("click_epoch").isNull()
        ).count()
        == 0
    )
    expected = (
        F.lit(1)
        + F.col("click_epoch").isNotNull().cast("int")
        + F.col("purchase_epoch").isNotNull().cast("int")
    )
    assert out.where(F.col("stages_completed") != expected).count() == 0
    out.unpersist()


def test_retention_matrix_invariants(spark, sf_dir):
    """Offsets are non-negative, cohort epochs hour-aligned, every cell has
    at least one active user, and offset-0 cells cover every cohort (the
    signup event itself is activity in the cohort hour)."""
    out = cohort_hourly_retention(spark, sf_dir).cache()
    assert out.where(F.col("hour_offset") < 0).count() == 0
    assert out.where(F.col("cohort_epoch") % 3600 != 0).count() == 0
    assert out.where(F.col("n_active") < 1).count() == 0
    cohorts = out.select("cohort_epoch").distinct().count()
    zero_offset = out.where(F.col("hour_offset") == 0).count()
    assert zero_offset == cohorts
    out.unpersist()


def _python_funnel(events):
    """Sequential funnel evaluator: (user_id, ts, type) tuples ->
    {user: (t_view, t_click, t_purchase)} with ordered-stage semantics."""
    out = {}
    by_user = {}
    for uid, ts, typ in events:
        by_user.setdefault(uid, []).append((ts, typ))
    for uid, evs in by_user.items():
        views = sorted(ts for ts, t in evs if t == "view")
        if not views:
            continue
        t_view = views[0]
        clicks = sorted(ts for ts, t in evs if t == "click" and ts >= t_view)
        t_click = clicks[0] if clicks else None
        t_purchase = None
        if t_click is not None:
            purchases = sorted(
                ts for ts, t in evs if t == "purchase" and ts >= t_click
            )
            t_purchase = purchases[0] if purchases else None
        out[uid] = (t_view, t_click, t_purchase)
    return out


def test_funnel_matches_sequential_evaluator(spark):
    """Conformance on generated logs, including the ordered-stage traps:
    clicks before the first view, purchases before the first qualifying
    click, ties at the same timestamp."""
    import random
    from datetime import datetime, timedelta

    rng = random.Random(20260813)
    base = datetime(2024, 1, 1)
    rows = []
    for uid in range(40):
        n = rng.randint(0, 12)
        for _ in range(n):
            rows.append(
                (
                    uid,
                    base + timedelta(seconds=rng.randint(0, 50)),
                    rng.choice(["view", "click", "purchase", "error"]),
                )
            )
    # Deterministic tie cases: click at exactly the first view instant,
    # purchase at exactly the first click instant.
    rows += [
        (100, base, "view"),
        (100, base, "click"),
        (100, base, "purchase"),
        (101, base + timedelta(seconds=5), "click"),
        (101, base + timedelta(seconds=6), "view"),
        (101, base + timedelta(seconds=7), "click"),
    ]
    from map_reduce_go_spark.plans.funnel import funnel_over

    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r["user_id"]: (r["view_epoch"], r["click_epoch"], r["purchase_epoch"])
        for r in funnel_over(df).collect()
    }
    want = {
        uid: tuple(None if t is None else int(t.timestamp()) for t in triple)
        for uid, triple in _python_funnel(
            [(u, ts, t) for u, ts, t in rows]
        ).items()
    }
    assert got == want


def test_sessionize_matches_sequential_evaluator(spark):
    """session_numbers (the numbering of events_sessionize and
    session_path_patterns) vs a brute-force per-user pass, including
    boundary cases: gap exactly equal to the threshold (new session), one
    microsecond under (same session)."""
    import random
    from datetime import datetime, timedelta

    from map_reduce_go_spark.plans.events import session_numbers
    from map_reduce_go_spark.registry import all_queries  # noqa: F401 (warm registry)
    from map_reduce_go_spark.streaming.windows import SESSION_GAP_SEC

    rng = random.Random(42)
    base = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for uid in range(25):
        t = 0.0
        for _ in range(rng.randint(1, 15)):
            t += rng.choice([30.0, 599.999999, 600.0, 1200.0, 0.0])
            rows.append((eid, base + timedelta(seconds=t), uid))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")

    got = {r["event_id"]: r["session_no"] for r in session_numbers(df).collect()}

    # Sequential evaluator.
    want = {}
    by_user = {}
    for e, ts, u in rows:
        by_user.setdefault(u, []).append((ts, e))
    for u, evs in by_user.items():
        evs.sort()
        sess = 0
        prev = None
        for ts, e in evs:
            if prev is None or (ts - prev).total_seconds() >= SESSION_GAP_SEC:
                sess += 1
            want[e] = sess
            prev = ts
    assert got == want
