"""Sketch / statistics tier II: HyperLogLog, count-min heavy hitters,
and exact distributed quantiles.

Extends the sketch family (sketch.py's KMV) with the two other
workhorse streaming summaries — HLL registers for distinct counts and
count-min for frequency — plus the batch companion every 100 TB profile
job needs: exact quantiles without a global sort.

Cross-engine design rule (CLAUDE.md): every declared column is either
integer arithmetic, a value copied from the input, or a single IEEE
division of two identically-derived numbers — so Spark and DuckDB agree
bit-for-bit and the driver's value-hash matches.

HLL determinism: Spark's ``approx_count_distinct`` (HLL++) has no
cross-engine twin, so — exactly like KMV — we build the registers from
portable md5 nibble math both engines replay: register index = first
2 hex nibbles (m=256), rank = leading-zero count of the next 13 nibbles
(52 bits) + 1.  The harmonic sum is kept as an *integer*
(``sum(2^(53-rank))``, max 256·2^53 = 2^61 < 2^63), so the only float
op is the final single division — bit-exact on both engines.  The
declared estimate is the RAW harmonic-mean estimate; the small-range
linear-counting correction needs ln(), which is not cross-engine-exact,
so the estimator applies it consumer-side from the integer register
count (tests/test_stats.py shows the 4-line recipe).

Count-min heavy hitters: the sketch (depth 4 × width 64, md5-keyed) is
built with one token-level aggregation whose output cardinality is the
sketch size (256 cells), NOT the vocabulary — the 100 TB path.  The
estimate is a guaranteed over-count, so ``est >= t`` is a no-false-
negative candidate filter; exact counting then runs only on candidate
tokens (semi-join pruned).  All integer.

Exact distributed quantiles: two-pass bucket refinement instead of a
global sort — pass 1 aggregates fixed-width value buckets (output
cardinality = value range / width, independent of row count), pass 2
sorts only the buckets that contain a requested rank.  At 100 TB the
full sort this replaces is the single most expensive shuffle Spark can
run; the refinement touches ~1/buckets of the data in pass 2.

Flink parity: flink-statefun-less 1.11 has no sketch library; these sit
in the "beyond reference" extension tier (SURVEY §8.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import catalog
from ..session import ship_package
from . import registry

# ---------------------------------------------------------------- HLL

_M = 256  # registers (2 hex nibbles)
_TWO_53 = 1 << 53
# alpha_256 = 0.7213 / (1 + 1.079/256), the standard bias constant.
_ALPHA = 0.7213 / (1.0 + 1.079 / _M)
# Numerator of the raw estimate: alpha * m^2 * 2^53 (one double literal,
# computed here once so both engines divide the same constant).
_HLL_NUM = repr(_ALPHA * _M * _M * float(_TWO_53))


def _duck_fold(expr: str, start: int, n: int) -> str:
    """DuckDB: fold ``n`` hex nibbles of md5(expr) starting at 1-based
    ``start`` into a BIGINT (same value as Spark's conv(...,16,10))."""
    return (
        f"list_reduce(list_prepend(0::BIGINT, list_transform(range({start}, {start + n}), "
        f"i -> (strpos('0123456789abcdef', substring(md5({expr}), i, 1)) - 1)::BIGINT)), "
        "(a, x) -> a * 16 + x)"
    )


def _spark_fold(expr: str, start: int, n: int) -> str:
    return f"cast(conv(substring(md5({expr}), {start}, {n}), 16, 10) as bigint)"


def _hll_sql(reg_expr: str, tail_expr: str) -> str:
    """Shared HLL query; ``reg_expr`` = register index 0..255, ``tail_expr``
    = the 13-nibble hex tail whose leading zeros give the rank."""
    # z = leading zero NIBBLES (0..13); v = first nonzero nibble value.
    # rank = 4*z + (zeros inside that nibble) + 1; all-zero tail -> 53.
    return f"""
WITH h AS (
  SELECT event_type,
         {reg_expr} AS reg,
         {tail_expr} AS tail
  FROM events
),
z AS (
  SELECT event_type, reg,
         length(regexp_extract(tail, '^0*', 0)) AS nz,
         tail
  FROM h
),
rk AS (
  SELECT event_type, reg,
         CASE WHEN nz >= 13 THEN 53
              ELSE cast(nz as int) * 4
                   + CASE WHEN substring(tail, cast(nz as int) + 1, 1) IN ('8','9','a','b','c','d','e','f') THEN 0
                          WHEN substring(tail, cast(nz as int) + 1, 1) IN ('4','5','6','7') THEN 1
                          WHEN substring(tail, cast(nz as int) + 1, 1) IN ('2','3') THEN 2
                          ELSE 3 END
                   + 1
         END AS rank
  FROM z
),
regs AS (
  SELECT event_type, reg, max(rank) AS maxrank
  FROM rk GROUP BY event_type, reg
),
agg AS (
  SELECT event_type,
         count(*) AS regs_hit,
         sum(cast(pow(cast(2 as bigint), 53 - maxrank) as bigint)) AS sum_hit
  FROM regs GROUP BY event_type
),
ex AS (
  SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY event_type
)
SELECT a.event_type,
       cast(e.n_exact as bigint)  AS n_exact,
       cast(a.regs_hit as bigint) AS hll_registers,
       cast(a.sum_hit + ({_M} - a.regs_hit) * cast({_TWO_53} as bigint) as bigint) AS hll_sum_scaled,
       round({_HLL_NUM} / (a.sum_hit + ({_M} - a.regs_hit) * cast({_TWO_53} as bigint)), 2) AS est_raw
FROM agg a JOIN ex e ON a.event_type = e.event_type
ORDER BY a.event_type
"""


def _hll_spark_sql() -> str:
    return _hll_sql(
        f"{_spark_fold('cast(user_id as string)', 1, 2)}",
        "substring(md5(cast(user_id as string)), 3, 13)",
    )


def _hll_duck_sql() -> str:
    return _hll_sql(
        f"{_duck_fold('user_id::VARCHAR', 1, 2)}",
        "substring(md5(user_id::VARCHAR), 3, 13)",
    )


def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-user estimate per event_type.

    Plan: one (event_type, reg) aggregation — map-side combinable, output
    cardinality ≤ groups × 256 regardless of row count — plus the exact
    count (fixture-scale comparison column).  At 100 TB drop the ``ex``
    CTE; the sketch side never shuffles more than groups×256 rows.
    """
    catalog.register(spark, sf_dir)
    return spark.sql(_hll_spark_sql())


registry.register("x_sketch_hll", hll_distinct, _hll_duck_sql())

# ---------------------------------------------- count-min heavy hitters

_CM_DEPTH = 4
_CM_WIDTH = 64
_HH_THRESHOLD = 200  # token occurrences at sf0.01 scale ~ top keywords


def _cm_sql(fold_fn, threshold: int) -> str:
    """Count-min build + candidate filter + exact verify, one query.

    ``fold_fn(expr, start, n)`` renders the engine's md5-nibble fold.
    Bucket for depth d = fold(md5(d || ':' || w)) % width.  The min over
    depths never under-counts, so ``cm_est >= t`` is a superset of the
    true heavy hitters; the exact count confirms.
    """
    buckets = ",\n         ".join(
        fold_fn("'%d:' || w" % d, 1, 8) + f" % {_CM_WIDTH} AS b{d}"
        for d in range(_CM_DEPTH)
    )
    cm_joins = "\n".join(
        f"JOIN cm c{d} ON c{d}.d = {d} AND c{d}.b = t.b{d}" for d in range(_CM_DEPTH)
    )
    least = "least(" + ", ".join(f"c{d}.total" for d in range(_CM_DEPTH)) + ")"
    unions = "\nUNION ALL\n".join(
        f"SELECT {d} AS d, b{d} AS b, cnt FROM tok" for d in range(_CM_DEPTH)
    )
    return f"""
WITH words AS (
  SELECT w FROM (SELECT {_SPLIT_PLACEHOLDER} AS w FROM documents) s
),
tok AS (
  SELECT w, count(*) AS cnt,
         {buckets}
  FROM words GROUP BY w
),
cm AS (
  SELECT d, b, sum(cnt) AS total FROM (
{unions}
  ) u GROUP BY d, b
),
est AS (
  SELECT t.w, t.cnt, {least} AS cm_est
  FROM tok t
{cm_joins}
)
SELECT w, cast(cnt as bigint) AS cnt, cast(cm_est as bigint) AS cm_est
FROM est
WHERE cm_est >= {threshold} AND cnt >= {threshold}
ORDER BY cnt DESC, w
"""


_SPLIT_PLACEHOLDER = "__SPLIT__"
_SPARK_SPLIT = "explode(split(trim(text), ' '))"
_DUCK_SPLIT = "unnest(string_split(trim(text), ' '))"


def cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over the corpus token stream: count-min candidates,
    exact verify.

    100 TB shape: the ``tok`` exact aggregation here is fixture-scale
    convenience — at scale the cm table (256 cells, built with one
    map-side-combined aggregation whose output is the *sketch*, not the
    vocabulary) is broadcast back against the token stream and only
    tokens whose 4 buckets all clear the threshold are exactly counted.
    The candidate set is a guaranteed superset (count-min never
    under-counts), so the verified output equals the true heavy-hitter
    set — the same sketch→verify contract as dedup's LSH→Jaccard.
    """
    catalog.register(spark, sf_dir)
    sql = _cm_sql(_spark_fold, _HH_THRESHOLD).replace(_SPLIT_PLACEHOLDER, _SPARK_SPLIT)
    return spark.sql(sql)


_CM_ORACLE = _cm_sql(_duck_fold, _HH_THRESHOLD).replace(_SPLIT_PLACEHOLDER, _DUCK_SPLIT)

registry.register("x_heavy_hitters", cm_heavy_hitters, _CM_ORACLE)

# ------------------------------------------- exact distributed quantiles

_Q_PROBS = (0.5, 0.9, 0.99)
_Q_BUCKET_W = 10000.0  # o_totalprice bucket width; ~60 buckets at fixture


def dist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of o_totalprice WITHOUT a global sort.

    Pass 1 aggregates fixed-width buckets (output cardinality = value
    range / width — independent of row count) and computes cumulative
    counts; pass 2 ranks rows *only inside the buckets that contain a
    requested rank* (a filter that prunes ~1/buckets of the data before
    the per-bucket sort).  Rank convention = quantile_disc's lower
    discrete quantile: the smallest value with cum_count >= ceil(p*n).

    At 100 TB: pass 1 is one map-side-combined aggregation; pass 2
    shuffles only the selected buckets' rows (each bucket sorts
    independently — no single-reducer global order).

    Delegates to the generic ``exact_quantiles`` helper (one copy of
    the two-pass SQL; the helper carries the random-frame property
    test).
    """
    catalog.register(spark, sf_dir)
    return exact_quantiles(
        spark.table("orders").select("o_totalprice", "o_orderkey"),
        "o_totalprice",
        "o_orderkey",
        _Q_PROBS,
        _Q_BUCKET_W,
    )


_Q_ORACLE = f"""
WITH ranked AS (
  SELECT o_totalprice, row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
         count(*) OVER () AS n
  FROM orders
)
SELECT cast(p as double) AS p, min(o_totalprice) AS value
FROM (SELECT * FROM (VALUES {', '.join(f'({p})' for p in _Q_PROBS)}) AS v(p)) pp
JOIN ranked ON rn = cast(ceil(p * n) as bigint)
GROUP BY p ORDER BY p
"""

registry.register("x_quantiles", dist_quantiles, _Q_ORACLE)


# ---------------------------------------------------- streaming HLL

_HLL_OUT_SCHEMA = "event_type string, regs_hit long, sum_scaled long"
_HLL_STATE_SCHEMA = "ranks array<integer>"


def hll_register_cols(events: DataFrame) -> DataFrame:
    """JVM-side (event_type, reg, rank) projection — the same md5
    register math as the batch entry, computed before the stateful op
    (the flag-column pattern: Python only folds small integers)."""
    return (
        events.selectExpr(
            "event_type",
            f"{_spark_fold('cast(user_id as string)', 1, 2)} AS reg",
            "substring(md5(cast(user_id as string)), 3, 13) AS tail",
        )
        .selectExpr(
            "event_type",
            "cast(reg as int) AS reg",
            "cast(length(regexp_extract(tail, '^0*', 0)) as int) AS nz",
            "tail",
        )
        .selectExpr(
            "event_type",
            "reg",
            """CASE WHEN nz >= 13 THEN 53
                    ELSE nz * 4
                         + CASE WHEN substring(tail, nz + 1, 1) IN ('8','9','a','b','c','d','e','f') THEN 0
                                WHEN substring(tail, nz + 1, 1) IN ('4','5','6','7') THEN 1
                                WHEN substring(tail, nz + 1, 1) IN ('2','3') THEN 2
                                ELSE 3 END
                         + 1
               END AS rank""",
        )
        .selectExpr("event_type", "reg", "cast(rank as int) AS rank")
    )


def _hll_fold(key, pdfs, state):
    """Per-key register max-fold of ``streaming_hll``."""
    import pandas as pd

    if state.exists:
        ranks = list(state.get[0])
    else:
        ranks = [0] * _M
    for pdf in pdfs:
        for reg, rank in zip(pdf["reg"], pdf["rank"]):
            r, k = int(rank), int(reg)
            if r > ranks[k]:
                ranks[k] = r
    state.update((ranks,))
    hit = sum(1 for r in ranks if r > 0)
    sum_scaled = sum(1 << (53 - r) for r in ranks)
    yield pd.DataFrame(
        {"event_type": [key[0]], "regs_hit": [hit], "sum_scaled": [sum_scaled]}
    )


def streaming_hll(events: DataFrame) -> DataFrame:
    """Streaming distinct-count sketch per event_type: HLL registers as
    keyed state, one (regs_hit, sum_scaled) row emitted per key per
    trigger.

    Flink's equivalent is a KeyedProcessFunction holding the register
    array in ValueState; here ``applyInPandasWithState`` holds the same
    256 ints.  Registers are a max-fold, so regs_hit only grows and
    sum_scaled only shrinks — the final row per key equals the batch
    sketch over the full replay (asserted by S14), and state is O(256)
    per key regardless of stream length (no horizon needed).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ship_package(events.sparkSession)
    return hll_register_cols(events).groupBy("event_type").applyInPandasWithState(
        _hll_fold,
        _HLL_OUT_SCHEMA,
        _HLL_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------- bloom-filter join pruning

# The runtime-filter technique Spark itself applies as
# InjectRuntimeFilter (bloom pruning of the probe side of a selective
# join), rendered as an explicit cross-engine-exact operator: build a
# Bloom filter over the build-side keys (2048 bits as 64 x 32-bit
# words, k=3 md5-derived probes), prune the probe side with it
# (no false negatives by construction), then verify with the exact
# join.  All arithmetic is integers and divisions by powers of two
# (exact in IEEE), so both engines agree on every bit.

_BF_BITS = 2048
_BF_WORDBITS = 32  # 32-bit words: 2^pos sums stay far inside BIGINT
_BF_K = 3


def _bloom_sql(fold_fn) -> str:
    def h(expr: str, i: int) -> str:
        # probe i uses md5 nibbles [1+4i, 8+4i) -> position 0..2047
        return f"({fold_fn(expr, 1 + 4 * i, 8)} % {_BF_BITS})"

    bkey, pkey = "cast(c_custkey as string)", "cast(o_custkey as string)"
    build_probes = "\n    UNION ALL\n    ".join(
        f"SELECT {h(bkey, i)} AS p FROM build" for i in range(_BF_K)
    )
    word_joins = "\n  ".join(
        f"JOIN words w{i} ON w{i}.word = cast(floor(p.h{i} / {_BF_WORDBITS}.0) as bigint)"
        for i in range(_BF_K)
    )
    bit_tests = "\n    AND ".join(
        f"cast(floor(w{i}.bits / cast(pow(cast(2 as bigint), p.h{i} % {_BF_WORDBITS}) as bigint)) as bigint) % 2 = 1"
        for i in range(_BF_K)
    )
    probe_hashes = ",\n         ".join(f"{h(pkey, i)} AS h{i}" for i in range(_BF_K))
    return f"""
WITH build AS (
  SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal > 9000
),
bits AS (
  SELECT DISTINCT cast(floor(p / {_BF_WORDBITS}.0) as bigint) AS word,
                  cast(p % {_BF_WORDBITS} as bigint) AS pos
  FROM (
    {build_probes}
  ) u
),
words AS (
  SELECT word, cast(sum(cast(pow(cast(2 as bigint), pos) as bigint)) as bigint) AS bits
  FROM bits GROUP BY word
),
ph AS (
  SELECT o_orderkey, o_custkey,
         {probe_hashes}
  FROM orders
),
cand AS (
  SELECT p.o_orderkey, p.o_custkey
  FROM ph p
  {word_joins}
  WHERE {bit_tests}
)
-- one pass over cand: Spark inlines repeated CTE references, so the
-- old scalar-subquery tail (count(cand) + count(cand JOIN build)) ran
-- the orders scan + 3-probe pipeline twice (round 14).  build is
-- DISTINCT keys, so the left join adds no fanout and count(matched
-- key) equals the old verified count; values are identical.
SELECT cast((SELECT count(*) FROM build) as bigint) AS n_build,
       cast(count(*) as bigint)                     AS n_candidates,
       cast(count(b.c_custkey) as bigint)           AS n_verified
FROM cand c LEFT JOIN build b ON b.c_custkey = c.o_custkey
"""


def bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom-filter probe pruning ahead of a selective join.

    100 TB shape: the filter is 64 words — broadcast for free — and the
    probe predicate is map-only (the word joins are broadcast hash
    joins against a 64-row table); only candidates (true matches plus
    the visible false positives) reach the verify join.  Spark's own
    InjectRuntimeFilter applies the same idea implicitly; this entry
    makes the no-false-negative contract checkable cross-engine.
    """
    catalog.register(spark, sf_dir)
    return spark.sql(_bloom_sql(_spark_fold))


registry.register("x_bloom_prune", bloom_join_prune, _bloom_sql(_duck_fold))


# ----------------------------------------------- HLL register merge

def _hll_regs_cte(reg_expr: str, tail_expr: str) -> str:
    """The (event_type, reg, maxrank) register table — shared by the
    single-group sketch and the union merge."""
    return f"""
h AS (
  SELECT event_type, {reg_expr} AS reg, {tail_expr} AS tail FROM events
),
z AS (
  SELECT event_type, reg, length(regexp_extract(tail, '^0*', 0)) AS nz, tail FROM h
),
rk AS (
  SELECT event_type, reg,
         CASE WHEN nz >= 13 THEN 53
              ELSE cast(nz as int) * 4
                   + CASE WHEN substring(tail, cast(nz as int) + 1, 1) IN ('8','9','a','b','c','d','e','f') THEN 0
                          WHEN substring(tail, cast(nz as int) + 1, 1) IN ('4','5','6','7') THEN 1
                          WHEN substring(tail, cast(nz as int) + 1, 1) IN ('2','3') THEN 2
                          ELSE 3 END
                   + 1
         END AS rank
  FROM z
),
regs AS (
  SELECT event_type, reg, max(rank) AS maxrank FROM rk GROUP BY event_type, reg
)"""


def _hll_union_sql(reg_expr: str, tail_expr: str) -> str:
    # Union sketch of two groups = element-wise register max — the
    # mergeability that makes HLL a partial aggregate at 100 TB.  The
    # merged estimate is compared against the exact distinct of the
    # unioned key sets.
    return f"""
WITH {_hll_regs_cte(reg_expr, tail_expr)},
types AS (SELECT DISTINCT event_type FROM events),
pairs AS (
  SELECT a.event_type AS et_a, b.event_type AS et_b
  FROM types a JOIN types b ON a.event_type < b.event_type
),
merged AS (
  SELECT p.et_a, p.et_b, r.reg, max(r.maxrank) AS maxrank
  FROM pairs p
  JOIN regs r ON r.event_type = p.et_a OR r.event_type = p.et_b
  GROUP BY p.et_a, p.et_b, r.reg
),
agg AS (
  SELECT et_a, et_b,
         count(*) AS regs_hit,
         sum(cast(pow(cast(2 as bigint), 53 - maxrank) as bigint)) AS sum_hit
  FROM merged GROUP BY et_a, et_b
),
ex AS (
  SELECT p.et_a, p.et_b, count(DISTINCT e.user_id) AS n_exact
  FROM pairs p JOIN events e ON e.event_type = p.et_a OR e.event_type = p.et_b
  GROUP BY p.et_a, p.et_b
)
SELECT a.et_a, a.et_b,
       cast(e.n_exact as bigint) AS n_exact_union,
       cast(a.regs_hit as bigint) AS hll_registers,
       cast(a.sum_hit + ({_M} - a.regs_hit) * cast({_TWO_53} as bigint) as bigint) AS hll_sum_scaled,
       round({_HLL_NUM} / (a.sum_hit + ({_M} - a.regs_hit) * cast({_TWO_53} as bigint)), 2) AS est_raw
FROM agg a JOIN ex e ON e.et_a = a.et_a AND e.et_b = a.et_b
ORDER BY a.et_a, a.et_b
"""


def hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise HLL union via register merge (element-wise max).

    This is the property that makes the sketch a distributed partial
    aggregate: per-split sketches merge associatively, so at 100 TB
    each task emits 256 ints and the combine is a groupBy max — no
    distinct shuffle at any point.  The exact-union column is the
    fixture-scale comparison and would be dropped at scale.
    """
    catalog.register(spark, sf_dir)
    return spark.sql(
        _hll_union_sql(
            _spark_fold("cast(user_id as string)", 1, 2),
            "substring(md5(cast(user_id as string)), 3, 13)",
        )
    )


registry.register(
    "x_hll_union",
    hll_union,
    _hll_union_sql(_duck_fold("user_id::VARCHAR", 1, 2), "substring(md5(user_id::VARCHAR), 3, 13)"),
)


# ----------------------------------------------- MAD anomaly detection

# Robust outlier gate on the event value stream: median and MAD (median
# absolute deviation) per event_type, then count values beyond
# median ± 3*MAD.  Values are cent-quantized (round(value*100) — the
# same double input rounds identically on both engines), so every
# declared column is an exact integer.  Every fragment below is shared
# verbatim between the DuckDB one-text oracle and the Spark staged
# plan (the x_ann_pq convention), so their semantics cannot diverge.

_MAD_V = (
    "SELECT event_type, cast(round(value * 100, 0) as bigint) "
    "AS cents FROM events"
)

# lower-median per event_type over a relation named {src} with columns
# (event_type, {col}); NULL values are left out, so a type whose values
# are all NULL has no median row (the bucketed form below filters its
# histogram the same way; its bucket join never matches a NULL row)
_MAD_MED = """SELECT event_type, min({col}) AS {alias}
  FROM (
    SELECT event_type, {col},
           row_number() OVER (PARTITION BY event_type ORDER BY {col}) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM {src} WHERE {col} IS NOT NULL
  ) WHERE rn = cast(ceil(n / 2.0) as bigint) GROUP BY event_type"""

_MAD_DEV = """SELECT v.event_type, abs(v.cents - m.median_cents) AS d
  FROM {v} v JOIN {m} m ON m.event_type = v.event_type"""

_MAD_FINAL = """SELECT v.event_type,
       cast(max(m.median_cents) as bigint) AS median_cents,
       cast(max(mad.mad_cents) as bigint)  AS mad_cents,
       cast(sum(CASE WHEN abs(v.cents - m.median_cents) > 3 * mad.mad_cents THEN 1 ELSE 0 END) as bigint) AS n_outliers,
       cast(count(*) as bigint) AS n
FROM {v} v
JOIN {m} m ON m.event_type = v.event_type
JOIN {mad} mad ON mad.event_type = v.event_type
GROUP BY v.event_type
ORDER BY v.event_type"""

_MAD_SQL = f"""
WITH v AS ({_MAD_V}),
m AS ({_MAD_MED.format(col='cents', alias='median_cents', src='v')}),
dev AS ({_MAD_DEV.format(v='v', m='m')}),
mad AS ({_MAD_MED.format(col='d', alias='mad_cents', src='dev')})
{_MAD_FINAL.format(v='v', m='m', mad='mad')}
"""


# Bucket-refinement exact lower median per group (two passes, every
# shuffle keyed on (event_type, bucket)): identical VALUE to the
# window form — the lower median is the smallest value whose
# cumulative count reaches ceil(n/2), buckets are value-ordered, and
# within the hit bucket the local rank (target - below) lands on the
# same sorted position the global row_number would.  The per-group
# window form sorts each group in ONE task (the 10x scale-up measured
# the entry flat from 4 to 32 cores: events has ~5 event types, so at
# most 5 tasks ever sorted the corpus); the refinement spreads the
# sort across (group, bucket) tasks — the docstring's promised 100 TB
# form, now the executed one.
_MAD_MED_BUCKETED = """SELECT event_type, min({col}) AS {alias}
FROM (
  SELECT s.event_type, s.{col}, h.target, h.below,
         row_number() OVER (PARTITION BY s.event_type
                            ORDER BY s.{col}) AS lrn
  FROM {src} s
  JOIN (
    SELECT event_type, bk, target, below FROM (
      SELECT event_type, bk,
             cast(ceil(sum(cnt) OVER (PARTITION BY event_type) / 2.0)
                  as bigint) AS target,
             coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY bk
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM (SELECT event_type, {col} div 1000 AS bk, count(*) AS cnt
            FROM {src} WHERE {col} IS NOT NULL
            GROUP BY event_type, {col} div 1000)
    ) WHERE target > below AND target <= cum
  ) h ON h.event_type = s.event_type AND h.bk = s.{col} div 1000
) WHERE lrn = target - below
GROUP BY event_type"""


def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier counts per event_type (the data-quality
    gate profile jobs run before training ingestion).

    The two medians are exact lower-medians; the DuckDB oracle computes
    them via per-group windows, the Spark side via two-pass bucket
    refinement (same value — see _MAD_MED_BUCKETED).  Integer cents end
    to end.

    Round 15: Spark inlines repeated CTE references, so the one-text
    plan scanned events three times and ran the median window twice
    (``v`` feeds med/dev/final, ``m`` feeds dev/final).  The Spark side
    stages ``v`` and ``m`` behind lazy checkpoints and passes them as
    ``spark.sql`` frame parameters; the shared projection/deviation/
    final fragments are literally the same strings as the oracle text's,
    and the median twin is pinned by
    tests/test_stats.py::test_mad_bucketed_median_matches_window.
    """
    catalog.register(spark, sf_dir)
    v = spark.sql(_MAD_V).localCheckpoint(eager=False)
    m = spark.sql(
        _MAD_MED_BUCKETED.format(col="cents", alias="median_cents", src="{v}"),
        v=v,
    ).localCheckpoint(eager=False)
    return spark.sql(f"""
WITH dev AS ({_MAD_DEV.format(v='{v}', m='{m}')}),
mad AS ({_MAD_MED_BUCKETED.format(col='d', alias='mad_cents', src='dev')})
{_MAD_FINAL.format(v='{v}', m='{m}', mad='mad')}
""", v=v, m=m)


registry.register("x_mad_outliers", mad_outliers, _MAD_SQL)


# ------------------------------------- generic exact-quantile helper

_QVIEW_N = [0]


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    probs=(0.5, 0.9, 0.99),
    bucket_width: float = 10000.0,
) -> DataFrame:
    """Reusable two-pass bucket-refinement exact quantiles over any
    DataFrame (the machinery behind the declared ``x_quantiles`` entry,
    exposed for arbitrary inputs; property-tested over random frames).

    Same rank convention: lower discrete quantile, smallest value with
    cum_count >= ceil(p*n); ties ordered by (value, tiebreak).  NULL
    values take no rank and do not count in n (Spark's
    ``percentile_disc``)."""
    spark = df.sparkSession
    _QVIEW_N[0] += 1
    view = f"__exact_quantiles_{_QVIEW_N[0]}"
    df.createOrReplaceTempView(view)
    probs_rows = ", ".join(f"({p})" for p in probs)
    bk = f"cast(floor({value_col} / {bucket_width!r}) as bigint)"
    try:
        return spark.sql(f"""
WITH b AS (
  SELECT {bk} AS bk, count(*) AS cnt FROM {view}
  WHERE {value_col} IS NOT NULL GROUP BY 1
),
c AS (
  SELECT bk, cnt,
         sum(cnt) OVER (ORDER BY bk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER (ORDER BY bk ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum_before
  FROM b
),
n AS (SELECT sum(cnt) AS n FROM b),
t AS (
  SELECT cast(p as double) AS p, cast(ceil(p * n.n) as bigint) AS target
  FROM (SELECT * FROM (VALUES {probs_rows}) AS v(p)) pp CROSS JOIN n
),
hit AS (
  SELECT t.p, t.target, c.bk, coalesce(c.cum_before, 0) AS below
  FROM t JOIN c ON t.target > coalesce(c.cum_before, 0) AND t.target <= c.cum
),
r AS (
  SELECT {bk} AS bk, {value_col} AS v,
         row_number() OVER (PARTITION BY {bk}
                            ORDER BY {value_col}, {tiebreak_col}) AS rn
  FROM {view}
  WHERE {value_col} IS NOT NULL AND {bk} IN (SELECT bk FROM hit)
)
SELECT h.p AS p, r.v AS value
FROM hit h JOIN r ON r.bk = h.bk AND r.rn = h.target - h.below
ORDER BY h.p
""")
    finally:
        # spark.sql analyzes eagerly (the returned plan no longer needs
        # the view) — drop it so repeated calls do not leak catalog
        # entries / pin the input plan for the session.
        spark.catalog.dropTempView(view)


# --------------------------------------------- grouped exact quantiles

_QG_PROBS = (0.5, 0.95)


def grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles (p50/p95 of o_totalprice per
    o_orderstatus) with the same bucket-refinement plan, group-keyed:
    pass-1 histogram cardinality = groups x buckets, pass-2 ranks only
    inside (group, bucket) partitions that contain a requested rank —
    still no global (or even per-group-global) sort."""
    catalog.register(spark, sf_dir)
    probs_rows = ", ".join(f"({p})" for p in _QG_PROBS)
    return spark.sql(f"""
WITH b AS (
  SELECT o_orderstatus AS g, cast(floor(o_totalprice / {_Q_BUCKET_W}) as bigint) AS bk,
         count(*) AS cnt
  FROM orders GROUP BY 1, 2
),
c AS (
  SELECT g, bk, cnt,
         sum(cnt) OVER (PARTITION BY g ORDER BY bk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER (PARTITION BY g ORDER BY bk ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum_before
  FROM b
),
n AS (SELECT g, sum(cnt) AS n FROM b GROUP BY g),
t AS (
  SELECT n.g, cast(p as double) AS p, cast(ceil(p * n.n) as bigint) AS target
  FROM (SELECT * FROM (VALUES {probs_rows}) AS v(p)) pp CROSS JOIN n
),
hit AS (
  SELECT t.g, t.p, t.target, c.bk, coalesce(c.cum_before, 0) AS below
  FROM t JOIN c ON c.g = t.g AND t.target > coalesce(c.cum_before, 0) AND t.target <= c.cum
),
r AS (
  SELECT o_orderstatus AS g, cast(floor(o_totalprice / {_Q_BUCKET_W}) as bigint) AS bk,
         o_totalprice,
         row_number() OVER (PARTITION BY o_orderstatus, cast(floor(o_totalprice / {_Q_BUCKET_W}) as bigint)
                            ORDER BY o_totalprice, o_orderkey) AS rn
  FROM orders
  WHERE (o_orderstatus, cast(floor(o_totalprice / {_Q_BUCKET_W}) as bigint))
        IN (SELECT g, bk FROM hit)
),
picked AS (
  SELECT h.g, h.p, r.o_totalprice AS value
  FROM hit h JOIN r ON r.g = h.g AND r.bk = h.bk AND r.rn = h.target - h.below
)
SELECT g AS o_orderstatus, p, value FROM picked ORDER BY g, p
""")


_QG_ORACLE = f"""
WITH ranked AS (
  SELECT o_orderstatus AS g, o_totalprice,
         row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS rn,
         count(*) OVER (PARTITION BY o_orderstatus) AS n
  FROM orders
)
SELECT g AS o_orderstatus, cast(p as double) AS p, min(o_totalprice) AS value
FROM (SELECT * FROM (VALUES {', '.join(f'({p})' for p in _QG_PROBS)}) AS v(p)) pp
JOIN ranked ON rn = cast(ceil(p * n) as bigint)
GROUP BY g, p ORDER BY g, p
"""

registry.register("x_quantiles_grouped", grouped_quantiles, _QG_ORACLE)


# ------------------------------------------------ streaming count-min

_CM_OUT_SCHEMA = "d integer, bits long, totals array<long>"
_CM_STATE_SCHEMA = "totals array<long>"


def cm_bucket_cols(docs: DataFrame) -> DataFrame:
    """JVM-side (d, bucket) projection of the token stream — one row per
    (token occurrence, depth), the same md5 bucket math as the batch
    entry; Python only adds small ints."""
    from pyspark.sql import functions as F

    toks = docs.selectExpr("explode(split(trim(text), ' ')) AS w")
    rows = [
        toks.selectExpr(
            f"{d} AS d",
            _spark_fold("'%d:' || w" % d, 1, 8) + f" % {_CM_WIDTH} AS b",
        )
        for d in range(_CM_DEPTH)
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _cm_fold(key, pdfs, state):
    """Per-depth counter fold of ``streaming_cm``."""
    import pandas as pd

    if state.exists:
        totals = list(state.get[0])
    else:
        totals = [0] * _CM_WIDTH
    for pdf in pdfs:
        for b in pdf["b"]:
            totals[int(b)] += 1
    state.update((totals,))
    yield pd.DataFrame(
        {"d": [key[0]], "bits": [sum(totals)], "totals": [totals]}
    )


def streaming_cm(docs: DataFrame) -> DataFrame:
    """Streaming count-min: each depth row is a key whose state is the
    width-64 counter array (additive fold — the sketch IS the partial
    aggregate, so the final state after any replay equals the batch cm
    table, asserted by S16).  State is O(width) per depth regardless of
    stream length; the emitted row carries the running totals."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ship_package(docs.sparkSession)
    return cm_bucket_cols(docs).groupBy("d").applyInPandasWithState(
        _cm_fold, _CM_OUT_SCHEMA, _CM_STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
    )
