"""Semantic and plan properties of the model-evaluation family
(plans/mleval.py): Mann-Whitney AUC, PSI distribution drift, the
decision-stump split search, and CUSUM change-point detection. Oracle
parity is the driver's job; these tests pin what the oracle comparison
can't state — the rank-sum identity against a brute-force pair count,
PSI's self-distance-zero / non-negativity, the information-gain
recomputation from raw counts, CUSUM's telescoping endpoint, and the
distributed-prefix plan shape (no unpartitioned windows)."""

from __future__ import annotations

import math

from map_reduce_go_spark.registry import all_queries


def _q(name, spark, sf_dir):
    return all_queries()[name].fn(spark, sf_dir)


# ---------------------------------------------------------------- AUC


def test_auc_matches_bruteforce_pair_count(spark, duck, sf_dir):
    """The Mann-Whitney rank-sum AUC equals the probability definition:
    auc = (#(pos.value > neg.value) + 0.5*ties) / (n_pos*n_neg),
    recomputed here as an explicit pair join in DuckDB (a formulation
    sharing no code with either engine's ranked version)."""
    rows = {r["event_type"]: r for r in _q(
        "auc_value_by_event_type", spark, sf_dir).collect()}
    # Brute force from the grouped value histogram (exact integers) —
    # the quadratic pair count the rank identity replaces.
    hist = duck.execute(
        "SELECT value, event_type, count(*) FROM events GROUP BY 1, 2"
    ).fetchall()
    types = sorted({et for _, et, _ in hist})
    for et in types:
        pos: dict = {}
        neg: dict = {}
        for v, t, c in hist:
            side = pos if t == et else neg
            side[v] = side.get(v, 0) + c
        u2 = 0  # 2*U = 2*#(pos>neg) + ties, exact integer
        for pv, pc in pos.items():
            for nv, nc in neg.items():
                if pv > nv:
                    u2 += 2 * pc * nc
                elif pv == nv:
                    u2 += pc * nc
        n_pos = sum(pos.values())
        n_neg = sum(neg.values())
        want = (1_000_000 * u2) // (2 * n_pos * n_neg)
        got = rows[et]
        assert got["n_pos"] == n_pos and got["n_neg"] == n_neg
        assert got["auc_ppm"] == want, (et, got["auc_ppm"], want)


def test_auc_bounds_and_totals(spark, sf_dir):
    rows = _q("auc_value_by_event_type", spark, sf_dir).collect()
    assert rows
    totals = {r["n_pos"] + r["n_neg"] for r in rows}
    assert len(totals) == 1  # every one-vs-rest split covers all events
    for r in rows:
        assert 0 <= r["auc_ppm"] <= 1_000_000


def test_prefix_windows_are_partitioned(spark, sf_dir):
    """The distributed-prefix idiom contract: every window in the AUC
    and stump plans is partitioned by the range-partition id — no
    unpartitioned window over the distinct-value frame."""
    for name in ("auc_value_by_event_type", "decision_stump_doclen"):
        df = _q(name, spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        specs = [
            seg.split(")", 1)[0]
            for seg in plan.split("windowspecdefinition(")[1:]
        ]
        assert specs, f"expected a window in the {name} plan"
        for spec in specs:
            assert spec.startswith("pid#"), (name, spec)


# ---------------------------------------------------------------- PSI


def test_psi_reference_is_zero_and_nonnegative(spark, duck, sf_dir):
    """PSI of the reference cohort against itself is identically 0 (every
    per-bucket term has p == q); every other source's PSI is
    non-negative up to the 6dp per-bucket rounding (each unrounded term
    (p-q)*ln(p/q) >= 0), and n_docs reconciles with the raw table."""
    from map_reduce_go_spark.plans.mleval import PSI_BUCKETS, PSI_REF_SOURCE

    rows = {r["source"]: r for r in _q(
        "psi_doclen_drift", spark, sf_dir).collect()}
    assert rows[PSI_REF_SOURCE]["psi6"] == 0.0
    for r in rows.values():
        assert r["psi6"] >= -(PSI_BUCKETS * 5e-7)
    counts = dict(duck.execute(
        "SELECT source, count(*) FROM documents GROUP BY 1").fetchall())
    assert {s: r["n_docs"] for s, r in rows.items()} == counts


# ---------------------------------------------------------------- stump


def test_stump_ig_recomputed_from_counts(spark, duck, sf_dir):
    """Recompute each reported split's information gain from the raw
    (n_chars, lang) table in Python — plain float entropy over the
    integer counts the query emits — and confirm ig6 and the count
    columns, plus the non-negativity IG >= 0 (splitting never loses
    information) and the (ig6 DESC, threshold ASC) order."""
    n_all, p_all = duck.execute(
        "SELECT count(*), sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)"
        " FROM documents"
    ).fetchone()

    def ent(p1, n):
        out = 0.0
        for c in (p1, n - p1):
            if c > 0:
                out += (c / n) * math.log(c / n)
        return -out

    rows = _q("decision_stump_doclen", spark, sf_dir).collect()
    assert len(rows) == 5
    prev = None
    for r in rows:
        nl, nlp = duck.execute(
            "SELECT count(*), sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)"
            f" FROM documents WHERE n_chars <= {r['threshold']}"
        ).fetchone()
        assert (r["nl"], r["nl_pos"]) == (nl, nlp)
        assert (r["nr"], r["nr_pos"]) == (n_all - nl, p_all - nlp)
        ig = (
            ent(p_all, n_all)
            - (nl / n_all) * ent(nlp, nl)
            - ((n_all - nl) / n_all) * ent(p_all - nlp, n_all - nl)
        )
        assert abs(r["ig6"] - ig) < 2e-6
        assert r["ig6"] >= -1e-9
        key = (-r["ig6"], r["threshold"])
        assert prev is None or prev <= key
        prev = key


# ---------------------------------------------------------------- CUSUM


def test_cusum_telescopes_and_peak_is_argmax(spark, sf_dir):
    """The scaled CUSUM D*prefix_d - idx_d*T telescopes to exactly 0 at
    the last day (sum of deviations from the mean is zero); a Python
    replay over the collected day counts reproduces every value; the
    is_peak flag marks precisely the max-|cusum| day(s)."""
    rows = sorted(
        _q("cusum_daily_changepoint", spark, sf_dir).collect(),
        key=lambda r: r["day"],
    )
    dd = len(rows)
    tt = sum(r["n_events"] for r in rows)
    pre = 0
    for i, r in enumerate(rows, start=1):
        pre += r["n_events"]
        assert r["cusum_scaled"] == dd * pre - i * tt
    assert rows[-1]["cusum_scaled"] == 0
    mx = max(abs(r["cusum_scaled"]) for r in rows)
    for r in rows:
        assert r["is_peak"] == (abs(r["cusum_scaled"]) == mx)
    assert any(r["is_peak"] for r in rows)


# ---------------------------------------------------------------- spearman


def test_spearman_matches_pure_python_midranks(spark, duck, sf_dir):
    """Recompute tie-corrected Spearman in pure Python: assign mid-ranks
    with a sort + tie-group walk (no shared code with either engine's
    grouped-prefix form), then Pearson over the ranks."""
    xy = duck.execute(
        "SELECT CAST(l_quantity AS BIGINT),"
        " CAST(round(l_extendedprice * 100) AS BIGINT) FROM lineitem"
    ).fetchall()
    nn = len(xy)

    def midranks(vals):
        order = sorted(range(nn), key=lambda i: vals[i])
        ranks = [0.0] * nn
        i = 0
        while i < nn:
            j = i
            while j < nn and vals[order[j]] == vals[order[i]]:
                j += 1
            mid = (i + 1 + j) / 2  # average of positions i+1..j
            for k in range(i, j):
                ranks[order[k]] = mid
            i = j
        return ranks

    rx = midranks([x for x, _ in xy])
    ry = midranks([y for _, y in xy])
    mean = (nn + 1) / 2
    sxx = sum((r - mean) ** 2 for r in rx)
    syy = sum((r - mean) ** 2 for r in ry)
    sxy = sum((a - mean) * (b - mean) for a, b in zip(rx, ry))
    want = sxy / math.sqrt(sxx * syy)
    row = _q("spearman_quantity_price", spark, sf_dir).collect()[0]
    assert row["n_rows"] == nn
    assert abs(row["spearman6"] - want) < 2e-6
    assert -1.0 <= row["spearman6"] <= 1.0


def test_spearman_centered_ranks_sum_to_zero(spark, sf_dir):
    """The analytic-centering identity behind the decimal-38 bound: the
    doubled centered mid-ranks of each column sum to exactly 0 (mid-rank
    mean is (n+1)/2 regardless of ties), so the Pearson cross-terms
    vanish by construction — and every window in the plan is partitioned
    (the distributed-prefix contract extends to this query)."""
    df = _q("spearman_quantity_price", spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    specs = [
        seg.split(")", 1)[0]
        for seg in plan.split("windowspecdefinition(")[1:]
    ]
    assert specs, "expected windows in the spearman plan"
    for spec in specs:
        assert spec.startswith("pid#"), spec


# -------------------------------------------------------- dist_prefix


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@st.composite
def keyed_measures(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    keys = draw(
        st.lists(
            st.integers(min_value=-1000, max_value=1000),
            min_size=n, max_size=n, unique=True,
        )
    )
    return [
        (k, draw(st.integers(min_value=0, max_value=10**6)),
         draw(st.integers(min_value=0, max_value=10**6)))
        for k in keys
    ]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=keyed_measures())
def test_prefix_over_equals_sequential_cumsum(spark, rows):
    """The distributed prefix sum shared by AUC, the stump search, and
    Spearman equals the sequential cumulative sum for arbitrary keyed
    integer measures — the conformance theorem that lets three oracle
    greens rest on one helper. Exercises partition boundaries (the
    broadcast-offset seam) because the derived fan-out (range_parts:
    at least 8, usually shuffle.partitions) exceeds the drawn row
    count, leaving some range partitions empty."""
    from pyspark.sql import functions as F

    from map_reduce_go_spark.functions.distrank import dist_prefix

    df = spark.createDataFrame(rows, schema="k long, a long, b long")
    cum, _totals = dist_prefix(
        df, [F.asc("k")], {"cum_a": F.col("a"), "cum_b": F.col("b")}
    )
    got = {r["k"]: (r["cum_a"], r["cum_b"]) for r in cum.collect()}
    ca = cb = 0
    want = {}
    for k, a, b in sorted(rows):
        ca += a
        cb += b
        want[k] = (ca, cb)
    assert got == want


def test_mleval_fact_queries_scan_fact_once(spark, sf_dir):
    """Single-scan discipline: the fact table feeds each query through
    ONE tracked cache — no fact FileScan outside an InMemoryRelation
    block (the same contract pagerank and dataset_card carry)."""
    from map_reduce_go_spark.functions.caching import release_caches

    for name, fact in (
        ("auc_value_by_event_type", "events"),
        ("spearman_quantity_price", "lineitem"),
    ):
        release_caches()
        try:
            df = _q(name, spark, sf_dir)
            cached = df._jdf.queryExecution().withCachedData().toString()
            head = cached.split("InMemoryRelation", 1)[0]
            assert fact not in head, (name, fact)
        finally:
            release_caches()
