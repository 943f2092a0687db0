"""Scale-posture assertions and UDF-surface equivalences:

- bucketed warehouse tables join WITHOUT a shuffle (the SCALE.md claim that
  bucketing by orderkey eliminates the fact⋈fact exchange — asserted on the
  physical plan, not taken on faith);
- a vectorized pandas_udf produces results identical to the JVM built-in
  expression it mirrors (the sanctioned Python escape hatch is
  value-equivalent where semantics overlap);
- hypothesis property test: the generic map_reduce engine equals a
  pure-Python MapReduce evaluator on arbitrary generated corpora (the
  reference's mrsequential golden-compare, randomized).
"""

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from map_reduce_go_spark.operators import mapreduce as mr
from map_reduce_go_spark.sources.readers import load_table
from tests.oracle_compare import sequential_map_reduce


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    from map_reduce_go_spark.sources.sinks import write_bucketed

    write_bucketed(
        orders, "orders_b", 8, ["o_orderkey"], ["o_orderkey"],
        path=str(tmp_path / "orders_b"),
    )
    write_bucketed(
        lineitem, "lineitem_b", 8, ["l_orderkey"], ["l_orderkey"],
        path=str(tmp_path / "lineitem_b"),
    )
    # At fixture scale the planner would broadcast the small side (also
    # shuffle-free, but that proves nothing about bucketing) — hint a
    # sort-merge join, the strategy the 100 TB fact⋈fact join would use.
    j = spark.table("lineitem_b").hint("merge").join(
        spark.table("orders_b"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan, (
        f"bucketed SMJ still shuffles:\n{plan[:2000]}"
    )
    assert j.count() == lineitem.count()


def test_pandas_udf_matches_builtin(spark, sf_dir):
    """Arrow-vectorized scalar UDF == the JVM expression for discounted
    revenue; demonstrates the pandas_udf surface without putting it in a
    hot path."""

    @pandas_udf("double")
    def disc_rev(price: pd.Series, disc: pd.Series) -> pd.Series:
        return price * (1.0 - disc)

    li = load_table(spark, sf_dir, "lineitem").limit(5000)
    both = li.select(
        F.round(disc_rev("l_extendedprice", "l_discount"), 6).alias("py"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("jvm"),
    )
    assert both.where(F.col("py") != F.col("jvm")).count() == 0


@st.composite
def corpora(draw):
    n = draw(st.integers(min_value=1, max_value=5))
    texts = st.text(
        alphabet="ab c\ndeф.12", min_size=0, max_size=80
    )
    return [(f"f{i}", draw(texts)) for i in range(n)]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=corpora())
@pytest.mark.parametrize("strategy", ["rdd", "pandas"])
def test_generic_engine_matches_python_reference(spark, corpus, strategy):
    df = spark.createDataFrame(corpus, schema="filename string, contents string")
    got = {
        r["key"]: r["value"]
        for r in mr.map_reduce(
            spark, df, mr.wc_map, mr.wc_reduce, n_reduce=4, strategy=strategy
        ).collect()
    }
    want = sequential_map_reduce(corpus, mr.wc_map, mr.wc_reduce)
    assert got == want


def test_quantile_sketch_accuracy(spark, sf_dir, duck):
    """The probe's checked projection carries the GK accuracy contract:
    every within-tol flag must be TRUE, and the exact quantiles must match
    DuckDB's quantile_cont to rounding."""
    from map_reduce_go_spark.registry import all_queries

    rows = {
        r["l_returnflag"]: r
        for r in all_queries()["quantile_sketch_probe"].fn(spark, sf_dir).collect()
    }
    exact = {
        flag: {"p50": q50, "p95": q95, "p99": q99}
        for flag, q50, q95, q99 in duck.sql(
            """SELECT l_returnflag,
                      quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5),
                      quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95),
                      quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99)
               FROM lineitem GROUP BY l_returnflag"""
        ).fetchall()
    }
    assert set(rows) == set(exact)
    for flag, r in rows.items():
        for p in ("p50", "p95", "p99"):
            assert r[f"{p}_within_tol"] is True, (flag, p)
            assert abs(r[f"{p}_exact"] - exact[flag][p]) < 1e-5, (flag, p)


def test_results_survive_broadcast_disabled(spark, sf_dir):
    """Plans must degrade gracefully when nothing qualifies for auto
    broadcast (the 100 TB reality for every non-dim join): disabling the
    threshold must change join strategy, never results. Explicit
    F.broadcast hints on constant-size dims (region/nation, 1-row totals)
    legitimately still apply."""
    from map_reduce_go_spark.registry import all_queries

    names = ("q5_region_revenue", "funnel_view_click_purchase", "q2_min_cost_supplier")
    qs = all_queries()
    base = {n: sorted(map(tuple, qs[n].fn(spark, sf_dir).collect())) for n in names}
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for n in names:
            got = sorted(map(tuple, qs[n].fn(spark, sf_dir).collect()))
            assert got == base[n], f"{n} changed results without auto-broadcast"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)


def test_results_invariant_to_shuffle_partition_count(spark, sf_dir):
    """Changing spark.sql.shuffle.partitions (5 vs the session's 32) must
    not change any result — the determinism contract that lets the same
    code run at any cluster size. Covers the order-sensitive shapes:
    top-k, bounded windows, two-level aggs."""
    from map_reduce_go_spark.registry import all_queries

    names = ("q3_top_revenue_orders", "corpus_head_coverage", "tfidf_top_terms")
    qs = all_queries()
    base = {n: sorted(map(tuple, qs[n].fn(spark, sf_dir).collect())) for n in names}
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        for n in names:
            got = sorted(map(tuple, qs[n].fn(spark, sf_dir).collect()))
            assert got == base[n], f"{n} changed results at 5 shuffle partitions"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


@st.composite
def event_logs(draw):
    """Small random event logs: 1-3 users, unique event ids, second-
    granularity timestamps WITH deliberate collisions (same user, same
    ts) so the event_id tie-break is actually exercised."""
    n = draw(st.integers(min_value=1, max_value=18))
    rows = []
    for i in range(n):
        rows.append(
            (
                i,  # event_id, unique
                draw(st.integers(min_value=0, max_value=5)),  # ts offset (collisions!)
                draw(st.integers(min_value=1, max_value=3)),  # user_id
                draw(st.sampled_from(["a", "b", "c"])),  # event_type
                float(draw(st.integers(min_value=0, max_value=9))),  # value
            )
        )
    return rows


def _seq_scd2(rows):
    """Sequential SCD2 evaluator: per user, walk events in (ts, event_id)
    order and open a new version at every type change."""
    out = {}
    by_user = {}
    for eid, ts, uid, typ, val in rows:
        by_user.setdefault(uid, []).append((ts, eid, typ))
    for uid, evs in by_user.items():
        evs.sort()
        versions = []
        for ts, eid, typ in evs:
            if not versions or versions[-1]["type"] != typ:
                versions.append({"type": typ, "from": ts, "n": 1})
            else:
                versions[-1]["n"] += 1
        for i, v in enumerate(versions):
            nxt = versions[i + 1]["from"] if i + 1 < len(versions) else None
            out[(uid, i + 1)] = (v["type"], v["from"], nxt, 1 if nxt is None else 0, v["n"])
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=event_logs())
def test_scd2_matches_sequential_evaluator(spark, rows):
    from datetime import datetime, timezone

    from map_reduce_go_spark.plans.warehouse import scd2_over

    base = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp())
    df = spark.createDataFrame(
        [
            (eid, datetime.fromtimestamp(base + ts, tz=timezone.utc), uid, typ, val, "{}")
            for eid, ts, uid, typ, val in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {
        (r.user_id, r.version): (
            r.event_type,
            r.valid_from_epoch - base,
            None if r.valid_to_epoch is None else r.valid_to_epoch - base,
            r.is_current,
            r.n_events,
        )
        for r in scd2_over(df).collect()
    }
    assert got == _seq_scd2(rows)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=event_logs())
def test_upsert_matches_sequential_evaluator(spark, rows):
    from datetime import datetime, timezone

    from map_reduce_go_spark.plans.warehouse import upsert_over

    base = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp())
    df = spark.createDataFrame(
        [
            (eid, datetime.fromtimestamp(base + ts, tz=timezone.utc), uid, typ, val, "{}")
            for eid, ts, uid, typ, val in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {
        r.user_id: (r.n_events, r.last_epoch - base, r.last_event_id)
        for r in upsert_over(df).collect()
    }
    want = {}
    for eid, ts, uid, typ, val in rows:
        cur = want.get(uid)
        if cur is None or (ts, eid) > (cur[1], cur[2]):
            want[uid] = [0, ts, eid]
        else:
            want[uid] = cur
    counts = {}
    for eid, ts, uid, typ, val in rows:
        counts[uid] = counts.get(uid, 0) + 1
    want = {u: (counts[u], v[1], v[2]) for u, v in want.items()}
    assert got == want


@st.composite
def shingle_corpora(draw):
    """Small random corpora whose texts are word sequences over a tiny
    alphabet — dense shingle overlap, so prefix filtering actually faces
    shared and hot shingles; includes sub-3-word docs (no shingles)."""
    n = draw(st.integers(min_value=2, max_value=8))
    words = ["aa", "bb", "cc", "dd"]
    docs = []
    for i in range(n):
        k = draw(st.integers(min_value=0, max_value=12))
        docs.append((i, " ".join(draw(st.sampled_from(words)) for _ in range(k))))
    return docs


def _brute_setsim(docs, t):
    def shingles(text):
        ws = [w for w in text.split() if w]
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    sets = {i: shingles(x) for i, x in docs if shingles(x)}
    out = {}
    ids = sorted(sets)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= t:
                out[(a, b)] = round(inter / union, 6)
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=shingle_corpora())
def test_setsim_prefix_filter_matches_bruteforce_random(spark, corpus):
    """Certified recall on adversarial corpora: dense shingle overlap,
    duplicate docs, empty and sub-shingle docs — the prefix filter must
    still equal the all-pairs brute force exactly."""
    from map_reduce_go_spark.functions.caching import release_caches
    from map_reduce_go_spark.operators.dedup import SETSIM_T, setsim_over

    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.jaccard for r in setsim_over(df).collect()
    }
    release_caches()
    assert got == _brute_setsim(corpus, SETSIM_T)


@st.composite
def user_day_sets(draw):
    """Small (user_id, day-offset) activity sets with deliberate overlap
    (few users, few days) so sliding windows share members."""
    n = draw(st.integers(min_value=1, max_value=25))
    return draw(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=4),  # user_id
                st.integers(min_value=0, max_value=12),  # day offset
            ),
            min_size=n,
            max_size=n,
        )
    )


@given(rows=user_day_sets(), window=st.integers(min_value=1, max_value=5))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_rolling_distinct_matches_bruteforce(spark, rows, window):
    """contribute-then-count must equal the brute-force 'distinct users
    with activity in (d-window, d]' on every observed day, for any
    activity set and window length — the sliding-COUNT(DISTINCT)
    correctness claim independent of the fixture."""
    import datetime as dt

    from map_reduce_go_spark.plans.events import rolling_distinct_over

    base = dt.date(2024, 1, 1)
    data = [(u, base + dt.timedelta(days=off)) for u, off in rows]
    df = spark.createDataFrame(data, "user_id long, day date").distinct()
    got = {
        r.report_day: r.n_distinct
        for r in rolling_distinct_over(df, window).collect()
    }
    pairs = set(data)
    days = {d for _, d in pairs}
    want = {
        d: len(
            {
                u
                for (u, d2) in pairs
                if dt.timedelta(0) <= d - d2 < dt.timedelta(days=window)
            }
        )
        for d in days
    }
    assert got == want


@st.composite
def weight_sets(draw):
    n = draw(st.integers(min_value=1, max_value=8))
    ws = draw(
        st.lists(
            st.integers(min_value=1, max_value=10_000),
            min_size=n,
            max_size=n,
        )
    )
    budget = draw(st.integers(min_value=1, max_value=500))
    return ws, budget


def _hamilton_py(weights: dict, budget: int) -> dict:
    total = sum(weights.values())
    base = {s: (w * budget) // total for s, w in weights.items()}
    rem = {s: (w * budget) % total for s, w in weights.items()}
    extras = budget - sum(base.values())
    order = sorted(weights, key=lambda s: (-rem[s], s))
    return {
        s: base[s] + (1 if i < extras else 0) for i, s in enumerate(order)
    }


@given(wb=weight_sets())
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_largest_remainder_matches_python_apportioner(spark, wb):
    """The distributed Hamilton allocation must equal a pure-Python
    apportioner on arbitrary weights and budgets: exact budget total,
    exact-quota bounds, identical per-source integers."""
    ws, budget = wb
    from map_reduce_go_spark.plans.governance import largest_remainder_alloc

    weights = {f"s{i:02d}": w for i, w in enumerate(ws)}
    df = spark.createDataFrame(
        list(weights.items()), "source string, weight_chars long"
    ).repartition(3)
    got = {
        r.source: r.final_alloc
        for r in largest_remainder_alloc(df, budget).collect()
    }
    want = _hamilton_py(weights, budget)
    assert got == want
    assert sum(got.values()) == budget
    total = sum(weights.values())
    for s, alloc in got.items():
        exact = weights[s] * budget / total
        assert exact - 1 < alloc < exact + 1
