"""Semantics tests for the stats tier (extensions/stats.py):
HLL error bound, count-min no-false-negative contract, exact
distributed quantiles vs plain sorted indexing."""

from __future__ import annotations

import math

from flink_1_11_1_spark.extensions import stats

from .conftest import SF_SMOKE


def test_hll_estimate_within_error_bound(spark):
    """The declared columns are the bit-exact sketch state; the
    *estimator* applies the standard small-range correction (linear
    counting when raw < 2.5m and empty registers exist) — done here in
    Python because ln() is not cross-engine-exact (CLAUDE.md rule)."""
    rows = stats.hll_distinct(spark, SF_SMOKE).collect()
    assert rows, "no groups"
    m = 256
    for r in rows:
        assert r.n_exact > 0
        empty = m - r.hll_registers
        if r.est_raw < 2.5 * m and empty > 0:
            est = m * math.log(m / empty)  # linear counting
        else:
            est = r.est_raw
        rel = abs(est - r.n_exact) / r.n_exact
        # HLL relative error 1.04/sqrt(m) = 6.5%; allow 4 sigma.
        assert rel < 0.26, (r.event_type, r.n_exact, est, r.est_raw)
        assert 0 < r.hll_registers <= m
        # registers never exceed distinct count
        assert r.hll_registers <= r.n_exact


def test_hll_registers_monotone_across_scales(spark):
    """More data can only hit more registers / raise ranks (sketch is a
    max-fold): sum_scaled at sf0.01 <= sf0.001 per shared group."""
    a = {r.event_type: r for r in stats.hll_distinct(spark, SF_SMOKE).collect()}
    b = {r.event_type: r for r in stats.hll_distinct(spark, "/root/testdata/sf0.01").collect()}
    for et in set(a) & set(b):
        assert b[et].hll_registers >= a[et].hll_registers
        assert b[et].hll_sum_scaled <= a[et].hll_sum_scaled


def test_heavy_hitters_equals_exact_threshold_set(spark):
    """cm_est >= t is a superset of cnt >= t (count-min never
    under-counts), so the verified output must equal the true set."""
    df = stats.cm_heavy_hitters(spark, SF_SMOKE)
    got = {(r.w, r.cnt) for r in df.collect()}
    exact = spark.sql(f"""
        SELECT w, cast(count(*) as bigint) AS cnt FROM (
          SELECT explode(split(trim(text), ' ')) AS w FROM documents
        ) GROUP BY w HAVING count(*) >= {stats._HH_THRESHOLD}
    """)
    from flink_1_11_1_spark import catalog

    catalog.register(spark, SF_SMOKE)
    want = {(r.w, r.cnt) for r in exact.collect()}
    assert got == want
    for r in df.collect():
        assert r.cm_est >= r.cnt  # over-approximation invariant


def test_quantiles_match_sorted_indexing(spark):
    from flink_1_11_1_spark import catalog

    catalog.register(spark, SF_SMOKE)
    vals = sorted(
        r.o_totalprice for r in spark.table("orders").select("o_totalprice").collect()
    )
    got = {r.p: r.value for r in stats.dist_quantiles(spark, SF_SMOKE).collect()}
    for p in stats._Q_PROBS:
        want = vals[math.ceil(p * len(vals)) - 1]
        assert got[p] == want, (p, got[p], want)


def test_bloom_prune_no_false_negatives(spark):
    """Candidates must be a superset of true matches: n_verified equals
    the exact join count, n_candidates >= n_verified. At high fill the
    filter saturates into false positives — visible, never dropped rows."""
    from flink_1_11_1_spark import catalog
    from flink_1_11_1_spark.extensions.stats import bloom_join_prune

    row = bloom_join_prune(spark, SF_SMOKE).collect()[0]
    catalog.register(spark, SF_SMOKE)
    exact = spark.sql("""
        SELECT count(*) AS n FROM orders o
        JOIN (SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal > 9000) b
          ON b.c_custkey = o.o_custkey
    """).collect()[0].n
    assert row.n_verified == exact
    assert row.n_candidates >= row.n_verified
    assert row.n_build > 0


def test_hll_union_dominates_both_sides(spark):
    """Register-merge union: merged regs_hit >= each side's, merged
    sum_scaled <= each side's (element-wise max), and the corrected
    estimate lands within the HLL error bound of the exact union."""
    import math as _math

    sides = {r.event_type: r for r in stats.hll_distinct(spark, SF_SMOKE).collect()}
    m = 256
    for r in stats.hll_union(spark, SF_SMOKE).collect():
        a, b = sides[r.et_a], sides[r.et_b]
        assert r.hll_registers >= max(a.hll_registers, b.hll_registers)
        assert r.hll_sum_scaled <= min(a.hll_sum_scaled, b.hll_sum_scaled)
        empty = m - r.hll_registers
        est = (
            m * _math.log(m / empty)
            if r.est_raw < 2.5 * m and empty > 0
            else r.est_raw
        )
        assert abs(est - r.n_exact_union) / r.n_exact_union < 0.26


def test_mad_outliers_python_replay(spark):
    """Exact replay: lower medians over cent-quantized values and the
    3-MAD outlier count must match row for row."""
    import math as _math

    from flink_1_11_1_spark import catalog

    catalog.register(spark, SF_SMOKE)
    vals: dict[str, list[int]] = {}
    for r in spark.sql("SELECT event_type, value FROM events").collect():
        vals.setdefault(r.event_type, []).append(round(r.value * 100))

    def lower_median(xs):
        xs = sorted(xs)
        return xs[_math.ceil(len(xs) / 2) - 1]

    got = {r.event_type: r for r in stats.mad_outliers(spark, SF_SMOKE).collect()}
    assert set(got) == set(vals)
    for et, xs in vals.items():
        med = lower_median(xs)
        mad = lower_median([abs(x - med) for x in xs])
        n_out = sum(1 for x in xs if abs(x - med) > 3 * mad)
        r = got[et]
        assert (r.median_cents, r.mad_cents, r.n_outliers, r.n) == (
            med,
            mad,
            n_out,
            len(xs),
        ), et


def test_mad_bucketed_median_matches_window(spark):
    """Round 15: the Spark side's bucket-refinement lower median must be
    VALUE-identical to the oracle's window form on random frames —
    including negatives (trunc-division buckets are uneven but monotone),
    bucket-boundary values and NULL cents: a type whose values are mostly
    or all NULL must neither vanish from one form nor rank its NULLs in
    the other."""
    import random

    rnd = random.Random(715)
    rows = []
    for i in range(4000):
        et = f"t{rnd.randrange(4)}"
        # mix: negatives, exact bucket boundaries, dense ties
        c = rnd.choice([
            rnd.randrange(-5000, 5000),
            rnd.randrange(-3, 3) * 1000,
            rnd.randrange(10),
        ])
        rows.append((et, c))
    # NULL cents: sprinkled over every type, a majority in t_most and the
    # only values of t_null
    rows += [(f"t{i % 4}", None) for i in range(40)]
    rows += [("t_most", None)] * 30 + [("t_most", c) for c in (5, 7, 9)]
    rows += [("t_null", None)] * 5
    df = spark.createDataFrame(rows, "event_type string, cents long")
    df.createOrReplaceTempView("x_mad_twin_src")
    try:
        win = {
            tuple(r)
            for r in spark.sql(stats._MAD_MED.format(
                col="cents", alias="m", src="x_mad_twin_src")).collect()
        }
        bk = {
            tuple(r)
            for r in spark.sql(stats._MAD_MED_BUCKETED.format(
                col="cents", alias="m", src="x_mad_twin_src")).collect()
        }
        assert win == bk
        assert ("t_most", 7) in win
        assert "t_null" not in {et for et, _ in win}
    finally:
        spark.catalog.dropTempView("x_mad_twin_src")


def test_exact_quantiles_property_random_frames(spark):
    """Hypothesis-style property over seeded random frames: the generic
    two-pass helper equals plain sorted indexing of the non-NULL values
    for every probability, across list shapes (duplicates, negatives,
    single bucket, many buckets, tiny n, NULL values — which rank
    nowhere, as in Spark's percentile_disc)."""
    import random

    from flink_1_11_1_spark.extensions.stats import exact_quantiles

    rng = random.Random(42)
    cases = [
        [rng.randint(-50, 50) for _ in range(n)]
        for n in (1, 2, 7, 100, 500)
    ] + [[5] * 40, list(range(200)), [rng.randint(0, 10**6) for _ in range(300)]]
    cases += [
        [None, None, 1, 2, 3, 4],
        [None if rng.random() < 0.3 else rng.randint(-50, 50) for _ in range(120)],
    ]
    probs = (0.01, 0.5, 0.9, 0.99, 1.0)
    for vals in cases:
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "id bigint, v bigint"
        )
        got = {
            r.p: r.value
            for r in exact_quantiles(df, "v", "id", probs, bucket_width=7.0).collect()
        }
        s = sorted(v for v in vals if v is not None)
        import math as _math

        for p in probs:
            want = s[max(_math.ceil(p * len(s)), 1) - 1]
            assert got[p] == want, (len(vals), p, got[p], want)
