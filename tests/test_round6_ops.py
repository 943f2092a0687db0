"""Property tests for the round-6 operators, beyond the oracle replay:
the oracle proves Spark and DuckDB agree on the DECLARED algorithm; these
prove the algorithm itself — weighted-median semantics vs a sequential
evaluator, interval-stabbing backlog vs a naive per-day count, KMV merge
identity and estimator error bounds, Gini vs a direct numpy computation,
chi-square additivity, and the sweep-line/first-seen invariants.
"""

from __future__ import annotations

import numpy as np

from map_reduce_go_spark.plans.events import (
    new_users_daily_cumulative,
    order_backlog_daily,
)
from map_reduce_go_spark.plans.relational import (
    chisq_segment_priority_independence,
    weighted_median_price,
)
from map_reduce_go_spark.plans.warehouse import revenue_lorenz_gini
from map_reduce_go_spark.operators.sketches import kmv_distinct_merge_probe


def test_weighted_median_matches_sequential_evaluator(spark, duck, sf_dir):
    """The cumulative-weight crossing must pick exactly the price where
    half the total quantity is reached, per flag — recomputed
    sequentially from the sorted rows."""
    got = {
        r.l_returnflag: (r.total_weight, r.weighted_median_price)
        for r in weighted_median_price(spark, sf_dir).collect()
    }
    rows = duck.sql(
        """
        SELECT l_returnflag, l_extendedprice, CAST(floor(l_quantity) AS BIGINT)
        FROM lineitem ORDER BY l_returnflag, l_extendedprice, l_orderkey, l_linenumber
        """
    ).fetchall()
    by_flag: dict[str, list[tuple[float, int]]] = {}
    for flag, px, w in rows:
        by_flag.setdefault(flag, []).append((px, w))
    for flag, items in by_flag.items():
        total = sum(w for _, w in items)
        cum = 0
        for px, w in items:
            cum += w
            if 2 * cum >= total:
                assert got[flag] == (total, px), flag
                break


def test_backlog_matches_naive_per_day_count(spark, duck, sf_dir):
    """The sweep-line running sum must equal the naive 'count orders with
    start<=d and end>=d' on every emitted day (spot-checked on a sample
    of days including the first, last, and peak)."""
    got = {r.day: r.n_open for r in order_backlog_daily(spark, sf_dir).collect()}
    days = sorted(got)
    sample = {days[0], days[-1], max(got, key=got.get)} | set(
        days[:: max(1, len(days) // 7)]
    )
    for day in sample:
        naive = duck.sql(
            f"""
            SELECT count(*) FROM (
              SELECT o_orderkey, CAST(min(o_orderdate) AS DATE) AS s,
                     greatest(CAST(max(l_shipdate) AS DATE),
                              CAST(min(o_orderdate) AS DATE)) AS e
              FROM orders JOIN lineitem ON l_orderkey = o_orderkey
              GROUP BY o_orderkey
            ) WHERE s <= DATE '{day}' AND e >= DATE '{day}'
            """
        ).fetchone()[0]
        assert got[day] == naive, day


def test_backlog_net_sums_to_zero_and_cumulative_nonnegative(spark, sf_dir):
    """Every order opens exactly once and closes exactly once, so the
    deltas must sum to zero over the full horizon, and an interval count
    can never be negative."""
    rows = order_backlog_daily(spark, sf_dir).collect()
    assert sum(r.net for r in rows) == 0
    assert all(r.n_open >= 0 for r in rows)


def test_new_users_cumulative_reaches_distinct_total(spark, duck, sf_dir):
    """First-seen accounting: daily new users must sum to the distinct
    user count, the cumulative column must be its prefix sum, and no day
    may claim a user twice."""
    rows = sorted(
        new_users_daily_cumulative(spark, sf_dir).collect(), key=lambda r: r.day
    )
    n_users = duck.sql("SELECT count(DISTINCT user_id) FROM events").fetchone()[0]
    assert sum(r.new_users for r in rows) == n_users
    assert rows[-1].cumulative_users == n_users
    run = 0
    for r in rows:
        run += r.new_users
        assert r.cumulative_users == run


def test_kmv_merge_identity_and_error_bound(spark, sf_dir):
    """Merge identity is structural (k smallest of the union of per-group
    k-minima IS the global k-minimum set) — assert the query reports it —
    and the estimator must land within 5/sqrt(k-2) relative error (a
    ~6.5-sigma envelope; the expected error is 1/sqrt(k-2))."""
    row = kmv_distinct_merge_probe(spark, sf_dir).collect()[0]
    assert row.merge_consistent == 1
    assert row.merged_estimate == row.kmv_estimate
    rel = abs(row.kmv_estimate - row.exact_distinct) / row.exact_distinct
    assert rel < 5.0 / np.sqrt(64 - 2), (row.kmv_estimate, row.exact_distinct)


def test_gini_matches_numpy(spark, duck, sf_dir):
    """Gini and top-decile share recomputed directly with numpy from the
    per-customer cent totals must match the distributed rank-formula
    result at ppm precision (+-1 ppm for the floor)."""
    row = revenue_lorenz_gini(spark, sf_dir).collect()[0]
    cents = np.array(
        [
            r[0]
            for r in duck.sql(
                """
                SELECT CAST(floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6)))
                       AS DECIMAL(24,6)) * 100) AS BIGINT)
                FROM orders GROUP BY o_custkey
                """
            ).fetchall()
        ],
        dtype=np.int64,
    )
    x = np.sort(cents)
    n = len(x)
    i = np.arange(1, n + 1, dtype=np.int64)
    gini = (2.0 * float((i * x).sum()) - (n + 1) * float(x.sum())) / (
        n * float(x.sum())
    )
    top = float(x[n - n // 10 :].sum()) / float(x.sum())
    assert row.n_customers == n
    assert abs(row.gini_ppm - int(np.floor(1e6 * gini))) <= 1
    assert abs(row.top_decile_share_ppm - int(np.floor(1e6 * top))) <= 1


def test_chisq_cells_are_consistent_contingency_table(spark, sf_dir):
    """Contingency-table invariants: cell counts must sum to the join
    cardinality consistently across row/column marginals, expected
    counts (reconstructed from marginals) must sum back to the total,
    and every contribution must be non-negative."""
    rows = chisq_segment_priority_independence(spark, sf_dir).collect()
    total = sum(r.obs for r in rows)
    row_tot: dict[str, int] = {}
    col_tot: dict[str, int] = {}
    for r in rows:
        row_tot[r.segment] = row_tot.get(r.segment, 0) + r.obs
        col_tot[r.priority] = col_tot.get(r.priority, 0) + r.obs
    assert sum(row_tot.values()) == total == sum(col_tot.values())
    exp_sum = 0.0
    for r in rows:
        exp = row_tot[r.segment] * col_tot[r.priority] / total
        exp_sum += exp
        assert abs(r.expected_milli - int(1000 * row_tot[r.segment] * col_tot[r.priority] // total)) == 0
        assert r.chi2_contrib >= 0
        # Recompute the contribution independently.
        assert abs(r.chi2_contrib - (r.obs - exp) ** 2 / exp) < 1e-4
    # With every (segment, priority) combination observed, Σ expected = N.
    assert abs(exp_sum - total) < 1e-6


def test_bpe_merge_steps_match_pure_python_trainer(spark, duck, sf_dir):
    """The 3-step distributed BPE train must pick exactly the merges a
    sequential pure-Python BPE trainer picks on the same word counts —
    greedy most-frequent pair, ties (count DESC, pair ASC), greedy
    left-to-right application. Proves the boundary-encoded string
    replace IS BPE application, independent of both SQL engines."""
    from map_reduce_go_spark.operators.textstats import (
        BPE_MERGE_STEPS,
        bpe_merge_steps,
    )

    got = [
        (r.step, r.sym_a, r.sym_b, r.merged, r.pair_count)
        for r in sorted(bpe_merge_steps(spark, sf_dir).collect())
    ]

    wc = duck.sql(
        r"""
        SELECT word, count(*) FROM (
          SELECT unnest(list_filter(string_split_regex(text, '[^\p{L}]+'),
                                    x -> len(x) > 0)) AS word
          FROM documents) GROUP BY word
        """
    ).fetchall()
    vocab = {tuple(w): c for w, c in wc}  # symbol tuple -> count

    expected = []
    for step in range(1, BPE_MERGE_STEPS + 1):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
        (a, b), cnt = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expected.append((step, a, b, a + b, cnt))
        new_vocab: dict[tuple, int] = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):  # greedy left-to-right, non-overlapping
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    assert got == expected


# --- late-round-6 additions ----------------------------------------------


def test_sample_allocation_sums_exactly_to_budget(spark, sf_dir):
    """Hamilton allocation must hand out EXACTLY the budget (the whole
    point vs. naive rounding), every final_alloc within 1 of its base,
    and allocations must be monotone in weight up to the +1 remainder."""
    from map_reduce_go_spark.plans.governance import (
        SAMPLE_BUDGET,
        sample_allocation_largest_remainder,
    )

    rows = sample_allocation_largest_remainder(spark, sf_dir).collect()
    assert sum(r.final_alloc for r in rows) == SAMPLE_BUDGET
    assert all(r.final_alloc in (r.base_alloc, r.base_alloc + 1) for r in rows)
    # Proportionality: floor quota is never exceeded by more than 1 and
    # never undershot — Hamilton satisfies exact quota.
    total_w = sum(r.weight_chars for r in rows)
    for r in rows:
        exact = r.weight_chars * SAMPLE_BUDGET / total_w
        assert exact - 1 < r.final_alloc < exact + 1


def test_k_anonymity_monotone_in_threshold(spark, sf_dir):
    """Classes-below and rows-at-risk are non-decreasing in k, and the
    class totals are threshold-independent."""
    from map_reduce_go_spark.plans.governance import k_anonymity_audit

    rows = sorted(k_anonymity_audit(spark, sf_dir).collect(), key=lambda r: r.k_threshold)
    assert len({r.n_classes_total for r in rows}) == 1
    assert len({r.min_class_size for r in rows}) == 1
    for a, b in zip(rows, rows[1:]):
        assert a.n_classes_below <= b.n_classes_below
        assert a.n_rows_at_risk <= b.n_rows_at_risk
    # risk rows counted only where a class is below threshold
    for r in rows:
        assert (r.n_rows_at_risk == 0) == (r.n_classes_below == 0)


def test_rolling_7d_distinct_bounds_daily_distinct(spark, duck, sf_dir):
    """u7(d) must be >= the single-day distinct count for d and <= the
    sum of the 7 daily distinct counts in its window — recomputed from a
    per-day DuckDB rollup."""
    from map_reduce_go_spark.plans.events import rolling_7d_distinct_users
    import datetime as dt

    daily = dict(
        duck.sql(
            "SELECT CAST(CAST(ts AS DATE) AS VARCHAR), count(DISTINCT user_id)"
            " FROM events GROUP BY 1"
        ).fetchall()
    )
    for r in rolling_7d_distinct_users(spark, sf_dir).collect():
        day = dt.date.fromisoformat(r.day)
        window_days = [
            (day - dt.timedelta(days=i)).isoformat() for i in range(7)
        ]
        singles = [daily.get(d, 0) for d in window_days]
        assert r.u7 >= max(singles)
        assert r.u7 <= sum(singles)


def test_gap_islands_conserve_customer_months(spark, duck, sf_dir):
    """Σ island_len × n_islands must equal the number of distinct
    (customer, month) pairs — islands partition the activity set."""
    from map_reduce_go_spark.plans.warehouse import order_gap_islands

    rows = order_gap_islands(spark, sf_dir).collect()
    total = sum(r.island_len * r.n_islands for r in rows)
    (expected,) = duck.sql(
        "SELECT count(*) FROM (SELECT DISTINCT o_custkey,"
        " year(o_orderdate)*12 + month(o_orderdate) FROM orders)"
    ).fetchone()
    assert total == expected


def test_twap_between_min_and_max_value(spark, duck, sf_dir):
    """A time-weighted average must lie within [min, max] of the user's
    event values (excluding each user's final, zero-weight reading)."""
    from map_reduce_go_spark.plans.events import time_weighted_avg_value_per_user

    bounds = {
        u: (lo, hi)
        for u, lo, hi in duck.sql(
            """
            WITH seq AS (
              SELECT user_id, value,
                     lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
              FROM events
            )
            SELECT user_id, min(value), max(value) FROM seq
            WHERE nxt IS NOT NULL GROUP BY user_id
            """
        ).fetchall()
    }
    for r in time_weighted_avg_value_per_user(spark, sf_dir).collect():
        lo, hi = bounds[r.user_id]
        assert lo * 1e6 - 1 <= r.twa_micro <= hi * 1e6 + 1


def test_int8_quant_recall_is_high_and_bounded(spark, sf_dir):
    """Overlap is bounded by k, and int8 over 64 dims should keep mean
    recall@10 comfortably above chance (>= 50% on the fixture)."""
    from map_reduce_go_spark.operators.similarity import (
        QUANT_K,
        QUANT_QUERIES,
        embedding_int8_quant_recall,
    )

    rows = embedding_int8_quant_recall(spark, sf_dir).collect()
    assert len(rows) == QUANT_QUERIES
    assert all(0 <= r.n_overlap <= QUANT_K for r in rows)
    assert sum(r.n_overlap for r in rows) / (QUANT_QUERIES * QUANT_K) >= 0.5


def test_hard_negatives_never_share_query_label(spark, duck, sf_dir):
    """Every mined negative must carry a different label from its query,
    and per query the similarities are non-increasing in rank."""
    from map_reduce_go_spark.operators.similarity import hard_negative_mining

    labels = dict(duck.sql("SELECT vec_id, label FROM embeddings").fetchall())
    by_q: dict[int, list] = {}
    for r in hard_negative_mining(spark, sf_dir).collect():
        assert labels[r.neighbor_id] != labels[r.query_id]
        by_q.setdefault(r.query_id, []).append((r.rank, r.sim))
    for pairs in by_q.values():
        pairs.sort()
        sims = [s for _, s in pairs]
        assert sims == sorted(sims, reverse=True)


def test_flesch_identity_on_known_text(spark, duck, sf_dir):
    """Recompute one source's Flesch score in pure Python from the same
    three counters and assert the integer milli-score matches."""
    import re

    from map_reduce_go_spark.operators.textstats import (
        readability_flesch_by_source,
    )

    rows = {r.source: r for r in readability_flesch_by_source(spark, sf_dir).collect()}
    texts = duck.sql(
        "SELECT text FROM documents WHERE source = 'src0'"
    ).fetchall()
    W = S = Y = 0
    for (text,) in texts:
        toks = [t for t in re.split(r"[^a-zA-Z]+", text) if t]
        W += len(toks)
        S += max(1, len(re.findall(r"[.!?]+", text)))
        Y += len(re.findall(r"[aeiou]+", text.lower()))
    r = rows["src0"]
    assert (r.n_words, r.n_sentences, r.n_syllables) == (W, S, Y)
    import math

    expected = math.floor((206835 * S * W - 1015 * W * W - 84600 * Y * S) / (S * W))
    assert r.flesch_milli == expected


def test_zipf_slope_matches_numpy_ols(spark, duck, sf_dir):
    """Recompute the tail OLS in numpy from the DuckDB frequency table
    and assert the integer ppm coefficients agree (ppm floor applied)."""
    from map_reduce_go_spark.operators.textstats import (
        ZIPF_HEAD_RANKS,
        zipf_tail_slope,
    )

    freqs = [
        f
        for (f,) in duck.sql(
            """
            SELECT count(*) AS f FROM (
              SELECT unnest(list_filter(string_split_regex(text, '[^\\p{L}]+'),
                            x -> len(x) > 0)) AS t FROM documents)
            GROUP BY t ORDER BY f DESC, t ASC
            """
        ).fetchall()
    ]
    pts = [
        (rank.bit_length() - 1, f.bit_length() - 1)
        for rank, f in enumerate(freqs, start=1)
        if rank > ZIPF_HEAD_RANKS
    ]
    x = np.array([p[0] for p in pts], dtype=np.int64)
    y = np.array([p[1] for p in pts], dtype=np.int64)
    n = len(pts)
    neg_num = int(x.sum()) * int(y.sum()) - n * int((x * y).sum())
    den = n * int((x * x).sum()) - int(x.sum()) ** 2
    assert neg_num > 0 and den > 0  # mirrors the query's all-positive layout
    slope_ppm = -((1000000 * neg_num) // den)
    row = zipf_tail_slope(spark, sf_dir).collect()[0]
    assert row.n_points == n
    assert row.slope_ppm == slope_ppm
    assert row.slope_ppm < 0  # zipf tails decrease
    assert 0 <= row.r2_ppm <= 1000000


def test_negative_samples_are_true_negatives(spark, duck, sf_dir):
    """No emitted negative may appear in its order's lineitem, every
    order emits at most K, and ranks are 1..n contiguous."""
    from map_reduce_go_spark.operators.pipeline import (
        NEG_K,
        negative_sampling_per_order,
    )

    purchased = set(
        duck.sql("SELECT DISTINCT l_orderkey, l_partkey FROM lineitem").fetchall()
    )
    by_order: dict[int, list[int]] = {}
    for r in negative_sampling_per_order(spark, sf_dir).collect():
        assert (r.o_orderkey, r.neg_partkey) not in purchased
        by_order.setdefault(r.o_orderkey, []).append(r.neg_rank)
    for ranks in by_order.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= NEG_K


def test_quantile_normalization_equalizes_distributions(spark, sf_dir):
    """After normalization every source must carry the IDENTICAL sorted
    list of normalized lengths — that is quantile normalization's
    defining property."""
    from map_reduce_go_spark.operators.pipeline import (
        quantile_normalization_doclen,
    )

    rows = quantile_normalization_doclen(spark, sf_dir).collect()
    per_source: dict[str, list[int]] = {}
    for r in rows:
        per_source.setdefault(r.source, []).append(r.norm_chars)
    dists = {tuple(sorted(v)) for v in per_source.values()}
    assert len(dists) == 1
    # and ranks within a source preserve the original order statistic
    for r in rows:
        assert r.norm_chars > 0


def test_interval_union_bounds(spark, duck, sf_dir):
    """Coverage is positive, never exceeds the priority's overall span,
    and never falls below the longest single interval."""
    from map_reduce_go_spark.plans.warehouse import interval_union_coverage_days

    spans = {
        p: (lo, hi)
        for p, lo, hi in duck.sql(
            """
            SELECT o_orderpriority, CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR),
                   CAST(max(d) AS VARCHAR) FROM (
              SELECT o_orderkey, o_orderpriority, o_orderdate,
                     greatest(max(CAST(l_shipdate AS DATE)), CAST(o_orderdate AS DATE)) AS d
              FROM orders JOIN lineitem ON l_orderkey = o_orderkey
              GROUP BY 1, 2, 3
            ) GROUP BY 1
            """
        ).fetchall()
    }
    import datetime as dt

    for r in interval_union_coverage_days(spark, sf_dir).collect():
        lo, hi = spans[r.o_orderpriority]
        total_span = (
            dt.date.fromisoformat(hi) - dt.date.fromisoformat(lo)
        ).days + 1
        assert 0 < r.covered_days <= total_span
        assert r.first_day == lo and r.last_day == hi


def test_dau_mau_stickiness_bounds(spark, sf_dir):
    """DAU <= MAU always, and the 28-day MAU dominates the 7-day count
    from rolling_7d_distinct_users on every shared day."""
    from map_reduce_go_spark.plans.events import (
        dau_mau_stickiness,
        rolling_7d_distinct_users,
    )

    u7 = {r.day: r.u7 for r in rolling_7d_distinct_users(spark, sf_dir).collect()}
    for r in dau_mau_stickiness(spark, sf_dir).collect():
        assert r.dau <= r.mau
        assert u7[r.day] <= r.mau
        assert 0 < r.stickiness_ppm <= 1000000


def test_first_last_touch_totals_match_purchasers(spark, duck, sf_dir):
    """Matrix mass = number of users with at least one pre-purchase
    event; diagonal+off-diagonal split sanity."""
    from map_reduce_go_spark.plans.events import first_last_touch_attribution

    rows = first_last_touch_attribution(spark, sf_dir).collect()
    (expected,) = duck.sql(
        """
        SELECT count(*) FROM (
          SELECT e.user_id FROM events e
          JOIN (SELECT user_id, min(ts) AS fp FROM events
                WHERE event_type = 'purchase' GROUP BY user_id) f
            ON f.user_id = e.user_id
          WHERE e.ts < f.fp GROUP BY e.user_id
        )
        """
    ).fetchone()
    assert sum(r.n_users for r in rows) == expected


def test_checksum_buckets_partition_the_table(spark, duck, sf_dir):
    """Bucket row counts must sum to the table cardinality, buckets must
    cover 0..63, and perturbing one row's hash must change exactly its
    bucket's checksum (localization property, simulated)."""
    from map_reduce_go_spark.plans.governance import (
        CHECKSUM_BUCKETS,
        table_checksum_buckets,
    )

    rows = {r.bucket: r for r in table_checksum_buckets(spark, sf_dir).collect()}
    (n_orders,) = duck.sql("SELECT count(*) FROM orders").fetchone()
    assert sum(r.n_rows for r in rows.values()) == n_orders
    assert set(rows) == set(range(CHECKSUM_BUCKETS))
    for r in rows.values():
        assert r.min_hash <= r.max_hash
        # checksum is a sum of n_rows values within [min_hash, max_hash]
        assert r.n_rows * r.min_hash <= r.checksum <= r.n_rows * r.max_hash


def test_gdpr_cascade_counts_are_consistent(spark, duck, sf_dir):
    """The cascade must touch a superset-consistent chain: every erased
    customer's orders counted, every counted order's lineitems counted —
    recomputed directly in DuckDB."""
    from map_reduce_go_spark.plans.governance import (
        GDPR_SAMPLE_MOD,
        gdpr_delete_impact,
    )

    got = {r.table_name: r for r in gdpr_delete_impact(spark, sf_dir).collect()}
    exp = dict(
        duck.sql(
            f"""
            WITH erased AS (
              SELECT c_custkey FROM customer
              WHERE CAST('0x' || substring(md5('gdpr|' || CAST(c_custkey AS VARCHAR)), 1, 8)
                    AS BIGINT) % {GDPR_SAMPLE_MOD} = 0
            )
            SELECT 'customer', count(*) FROM erased
            UNION ALL
            SELECT 'orders', count(*) FROM orders JOIN erased ON c_custkey = o_custkey
            UNION ALL
            SELECT 'lineitem', count(*) FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                                 JOIN erased ON c_custkey = o_custkey)
            """
        ).fetchall()
    )
    for t in ("customer", "orders", "lineitem"):
        assert got[t].n_rows_affected == exp[t], t
    assert 0 < got["customer"].n_rows_affected < got["customer"].n_rows_total


def test_session_paths_consistent_with_sessionize(spark, sf_dir):
    """Total sessions in the path report must equal the session count
    from events_sessionize (same gap, same keys), and funnel/repeat
    counts can never exceed the sessions that contain them."""
    from map_reduce_go_spark.plans.events import (
        events_sessionize,
        session_path_patterns,
    )

    n_sessions = (
        events_sessionize(spark, sf_dir)
        .select("user_id", "session_no")
        .distinct()
        .count()
    )
    rows = session_path_patterns(spark, sf_dir).collect()
    assert sum(r.n_sessions for r in rows) == n_sessions
    for r in rows:
        assert r.n_funnel_sessions <= r.n_sessions
        assert r.n_repeat_sessions <= r.n_sessions
        assert 1 <= r.max_session_len


def test_basket_lift_agrees_with_direct_probability_recompute(spark, duck, sf_dir):
    """Recompute lift for every emitted pair from raw basket
    probabilities in DuckDB and assert the integer ppm matches; lift
    ranking must be the declared total order."""
    from map_reduce_go_spark.plans.relational import (
        LIFT_MIN_SUPPORT,
        basket_pair_lift,
    )

    rows = basket_pair_lift(spark, sf_dir).collect()
    (n_baskets,) = duck.sql(
        "SELECT count(DISTINCT l_orderkey) FROM lineitem"
    ).fetchone()
    marg = dict(
        duck.sql(
            "SELECT l_partkey, count(*) FROM (SELECT DISTINCT l_orderkey, l_partkey"
            " FROM lineitem) GROUP BY 1"
        ).fetchall()
    )
    prev = None
    for r in rows:
        assert r.n_pair >= LIFT_MIN_SUPPORT
        expected = (1000000 * r.n_pair * n_baskets) // (marg[r.p1] * marg[r.p2])
        assert r.lift_ppm == expected
        key = (-r.lift_ppm, r.p1, r.p2)
        assert prev is None or prev < key  # strictly increasing total order
        prev = key
