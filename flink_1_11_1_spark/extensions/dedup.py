"""Deduplication family over ``documents`` (SURVEY.md §8.4).

Four tiers, each a standard building block of a 100 TB training-data
pipeline, each expressed as shuffling DataFrame ops (no Python in the
hot path):

- exact:          hash-groupBy on md5(text) — one shuffle on the digest.
- normalized:     same after lower/trim/whitespace-collapse.
- n-gram Jaccard: exact set-similarity join on word-3-gram shingles
                  (explode → distinct → self-join on shingle → pair
                  counts).  Correct but O(pairs-sharing-a-shingle); at
                  scale it is the *verifier*, not the candidate
                  generator.
- MinHash+LSH:    64 murmur3 min-hashes → 16 bands × 4 rows → bucket
                  join for candidates → exact-Jaccard verification of
                  candidates only.  The scale path: candidate volume is
                  governed by band collisions, not corpus size; each
                  stage is a plain shuffle that AQE can re-balance.
- SimHash:        64-bit signature via per-bit majority vote of xxhash64
                  token hashes (64 JVM-side aggregates, no UDF); banded
                  into 4×16-bit keys (pigeonhole: hamming≤3 pairs share
                  ≥1 band) → bucket join → exact hamming verify via
                  bit_count(xor).
- cosine:         embedding-space near-dup — threshold-adaptive
                  candidates (multi-plane banded sign-LSH in the
                  pruning regime t ≥ ~0.85; exact blocked-GEMM scan at
                  permissive thresholds where no recall-preserving LSH
                  layout prunes) → exact double cosine verify; checked
                  against a brute-force DuckDB oracle.

LSH-miss probability at the declared threshold (pairs in the fixtures
have Jaccard ≈ 0.99): (1 - 0.99^4)^16 ≈ 1e-22, so the MinHash query
shares the exact-Jaccard oracle.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..session import ship_package
from . import registry

# ---------------------------------------------------------------- exact

EXACT_SQL = """
SELECT count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_unique,
       count(DISTINCT md5(lower(trim(text)))) AS n_unique_norm
FROM documents
"""


def exact_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        F.countDistinct(F.md5(F.lower(F.trim("text")))).alias("n_unique_norm"),
    )


def drop_exact_duplicates(docs: DataFrame, key: Column | None = None) -> DataFrame:
    """Keep one row per exact text (min doc_id wins, deterministic).

    Spark-first: row_number over the digest (one shuffle); not
    dropDuplicates, whose survivor is partition-order dependent.
    """
    from pyspark.sql.window import Window

    key = key if key is not None else F.md5("text")
    w = F.row_number().over(Window.partitionBy(key).orderBy("doc_id"))
    return docs.withColumn("_rn", w).where("_rn = 1").drop("_rn")


# ---------------------------------------------------- shingles (shared)


def shingle_arrays(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word-n-gram shingles per doc as ONE array row:
    (doc_id, gs).

    Arrays stay JVM-side (split/transform/sequence); 0-based Spark
    indexing — w[i-1..i+n-2] for i in 1..len-n+1.  The array form is
    the minhash path's signature input (map-only, no explode/groupBy
    shuffle — round 14); ``shingles`` below is its exploded view.
    """
    parts = ", ".join(f"w[i-2+{j}]" for j in range(1, n + 1))
    # `w` sits under a Generate (exploding a 1-element array) because a
    # plain adjacent-Projects form gets collapsed: CollapseProject
    # inlines split() into EVERY lambda reference — 12 split() calls
    # per row in the executed plan, 2x on the jaccard entry (round-14
    # re-measurement of the round-10 CollapseProject lesson).  The
    # Generate boundary pins split() to one evaluation per row.
    return (
        docs.select(
            "doc_id",
            F.explode(F.array(F.split(F.trim("text"), " "))).alias("w"),
        )
        .select(
            "doc_id",
            F.expr(
                f"CASE WHEN size(w) >= {n} THEN "
                f"array_distinct(transform(sequence(1, size(w)-{n-1}), "
                f"i -> concat_ws(' ', {parts}))) "
                "ELSE array() END"
            ).alias("gs"),
        )
    )


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word-n-gram shingles per doc: (doc_id, g).

    Kept in the fused-generator form (the transform CASE IS the
    generator expression): the Generate boundary pins split() to one
    evaluation, and consumers that explode anyway skip the extra
    pass-through Generate a shingle_arrays-then-explode form would add.
    """
    parts = ", ".join(f"w[i-2+{j}]" for j in range(1, n + 1))
    return (
        docs.select("doc_id", F.split(F.trim("text"), " ").alias("w"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"CASE WHEN size(w) >= {n} THEN "
                    f"array_distinct(transform(sequence(1, size(w)-{n-1}), "
                    f"i -> concat_ws(' ', {parts}))) "
                    "ELSE array() END"
                )
            ).alias("g"),
        )
    )


def _pair_jaccard(
    cand: DataFrame, sh: DataFrame, cnt: DataFrame | None = None
) -> DataFrame:
    """Exact Jaccard for candidate pairs (da < db) given shingle sets.

    ``cnt`` (doc_id, n) may be supplied when the caller already has the
    per-doc set sizes staged (ngram_jaccard_pairs derives them from its
    prefix aggregation) — saves one full groupBy pass over ``sh``.
    """
    if cnt is None:
        cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    x = sh.select(F.col("doc_id").alias("da"), "g")
    y = sh.select(F.col("doc_id").alias("db"), "g")
    inter = (
        cand.join(x, "da")
        .join(y, ["db", "g"])
        .groupBy("da", "db")
        .agg(F.count("*").alias("c"))
    )
    return (
        inter.join(cnt.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"), "da")
        .join(cnt.withColumnRenamed("doc_id", "db").withColumnRenamed("n", "nb"), "db")
        .select(
            "da",
            "db",
            (F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))).alias("jac"),
        )
    )


# ---------------------------------------------------- exact n-gram join


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.5) -> DataFrame:
    """All doc pairs with word-n-gram Jaccard >= threshold (exact).

    Candidate generation uses PREFIX FILTERING (PPJoin-style, exact):
    Jaccard >= t and |B| >= c imply overlap c >= ceil(t*|A|), so two
    qualifying sets must share an element within the first
    |A| - ceil(t*|A|) + 1 elements of a CANONICAL order; ordering by
    ascending global document frequency puts the rarest shingles in the
    prefix, collapsing the candidate count.  At sf0.1 this cuts the
    self-join from every-shared-shingle pairs to prefix-shared pairs
    (~4x wall-clock); at 100 TB it is the difference between a bounded
    shuffle and a quadratic one.
    """
    from pyspark.sql.window import Window

    # shingles are read 4x (freq, sizes, prefixes, verification); the
    # LAZY localCheckpoint materializes on first use and is reused by
    # later jobs (A/B-measured against eager and eager+repartition in
    # fresh sessions: lazy wins cold AND warm - eager serializes the
    # materialization before any downstream stage can overlap); at
    # 100 TB the same role is a staged parquet write.
    sh = shingles(docs, n).localCheckpoint(eager=False)
    freq = sh.groupBy("g").agg(F.count("*").alias("df"))
    # Per-doc prefix derivation WITHOUT the global row_number window
    # (round 15, VERDICT r14 next #4): collect each doc's (df, g) pairs
    # into an array, sort locally, slice the PPJoin prefix.  One hash
    # aggregation keyed on doc_id replaces the window's sort-exchange
    # of the whole gram stream AND the separate cnt groupBy pass over
    # sh (n = size of the collected set — shingles are distinct per
    # doc).  sort_array's struct comparison (df asc, then g asc) is
    # exactly the window's ORDER BY df, g; a doc's shingle set fits in
    # task memory by construction (one document).
    per_doc = (
        sh.join(freq, "g")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "g"))).alias("sg"))
        .select(
            "doc_id",
            F.size("sg").alias("n"),
            F.expr(
                f"slice(sg, 1, size(sg) - "
                f"CAST(ceil({threshold} * size(sg)) AS INT) + 1)"
            ).alias("pre"),
        )
        # feeds BOTH candidate self-join sides and the verify stage's
        # cnt — Catalyst does not reuse the exchange across join
        # aliases (round 14); the lazy checkpoint runs the freq join +
        # prefix aggregation once
        .localCheckpoint(eager=False)
    )
    prefixes = per_doc.select(
        "doc_id", "n", F.posexplode("pre").alias("pos0", "el")
    ).select(
        "doc_id",
        F.col("el.g").alias("g"),
        (F.col("pos0") + 1).alias("pos"),
        "n",
    )
    # PPJoin's two exact pair pruners (Xiao et al., WWW'08) ride the
    # candidate join itself: the LENGTH filter (t·|A| <= |B| <= |A|/t —
    # Jaccard >= t bounds the size ratio) and the POSITIONAL filter
    # (overlap upper bound from the matching prefix token's positions,
    # 1 + min(|A|-pa, |B|-pb), must reach the required overlap
    # ceil(t/(1+t)·(|A|+|B|))).  Neither loses a true pair; together
    # they cut candidates ~3.3x at sf0.1 (409k -> 125k for 256 true).
    a, b = prefixes.alias("a"), prefixes.alias("b")
    req = F.ceil(F.lit(threshold / (1 + threshold)) * (F.col("a.n") + F.col("b.n")))
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") >= F.ceil(F.lit(threshold) * F.col("a.n")))
            & (F.col("a.n") >= F.ceil(F.lit(threshold) * F.col("b.n")))
            & (
                1
                + F.least(
                    F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
                )
                >= req
            ),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )
    return (
        _pair_jaccard(cand, sh, cnt=per_doc.select("doc_id", "n"))
        .where(F.col("jac") >= threshold)
        .select("da", "db", F.round("jac", 4).alias("j"))
        .orderBy("da", "db")
    )


JACCARD_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(trim(text), ' ') w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM toks, unnest(generate_series(1, greatest(len(w)-2, 0))) t(i)
), cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id da, b.doc_id db, count(*) c
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT da, db, round(c * 1.0 / (ca.n + cb.n - c), 4) j
FROM pairs JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
WHERE c * 1.0 / (ca.n + cb.n - c) >= 0.5
ORDER BY da, db
"""


# --------------------------------------------------------- MinHash+LSH

NUM_HASHES = 64
BANDS = 16
ROWS_PER_BAND = NUM_HASHES // BANDS


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, h0..h63): min murmur3(g, seed=i) per doc — 64 JVM aggs."""
    aggs = [F.min(F.hash(F.col("g"), F.lit(i))).alias(f"h{i}") for i in range(NUM_HASHES)]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_signatures_from_arrays(arr: DataFrame) -> DataFrame:
    """(doc_id, h0..h63) from (doc_id, gs) shingle ARRAYS — map-only.

    ``array_min(transform(gs, g -> hash(g, i)))`` evaluates the exact
    murmur3(g, seed=i) expression ``minhash_signatures`` aggregates, so
    signatures are bit-identical (pinned by a unit test), but the
    explode + 64-agg groupBy shuffle disappears: signatures fall out of
    the scan stage (round 14, guide §2.4).  Empty arrays are filtered
    to mirror the grouped form exactly (no shingles -> no signature
    row, not a NULL-filled one).
    """
    aggs = [
        F.expr(f"array_min(transform(gs, g -> hash(g, {i})))").alias(f"h{i}")
        for i in range(NUM_HASHES)
    ]
    return arr.where(F.size("gs") > 0).select("doc_id", *aggs)


def minhash_layout(
    target_jaccard: float,
    miss: float = 1e-5,
    num_hashes: int = NUM_HASHES,
) -> tuple[int, int]:
    """(bands, rows_per_band) sized from the duplicate similarity you
    must catch — the Jaccard analog of the cosine tier's _cos_layout,
    candidate-volume-first: a band of r min-hashes collides w.p. J^r
    for a true pair, so per-pair miss = (1-J^r)^b; we take the LARGEST
    r whose band count fits the hash budget (r↑ shrinks the background
    collision rate exponentially while b grows only as J^-r).  Size by
    the similarity of the duplicates (typically 0.85–0.99), NOT the
    verify threshold — the exact-Jaccard verify stage owns the final
    cut either way."""
    import math

    j = min(max(target_jaccard, 1e-6), 1 - 1e-9)
    need = math.log(1.0 / miss)
    for r in range(num_hashes, 0, -1):
        b = math.ceil(need / -math.log1p(-(j ** r))) if j ** r < 1 else 1
        if b * r <= num_hashes:
            return (b, r)
    return (num_hashes, 1)


def _bucket_pairs(
    buckets: DataFrame, key: str, on: Column | None = None,
    carry: tuple[Column, ...] = (),
) -> DataFrame:
    """Candidate pairs from a bucket frame ``(id, band, <key>, ...)``:
    the distinct ``(da, db, *carry)`` whose rows agree on ``band`` and
    ``key`` with ``a.id < b.id`` and, when given, the extra predicate
    ``on``.  ``on`` and ``carry`` address the self-join sides as ``a``
    and ``b``.  Every LSH tier's candidate generator is this join over
    its own bucket frame."""
    # both sides of the self-join read the bucket frame and Catalyst
    # does not reuse the exchange across the aliases (round-14 plan
    # audit: no ReusedExchange), so without the lazy checkpoint the
    # whole lineage behind the buckets ran once per side (simhash: 2.2
    # -> 1.5 s at sf0.1, identical rows)
    buckets = buckets.localCheckpoint(eager=False)
    pid = buckets.columns[0]
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col(f"a.{key}") == F.col(f"b.{key}"))
        & (F.col(f"a.{pid}") < F.col(f"b.{pid}"))
    )
    if on is not None:
        cond = cond & on
    return (
        buckets.alias("a")
        .join(buckets.alias("b"), cond)
        .select(F.col(f"a.{pid}").alias("da"), F.col(f"b.{pid}").alias("db"),
                *carry)
        .distinct()
    )


def _minhash_buckets(
    sig: DataFrame, bands: int = BANDS, rows_per_band: int = ROWS_PER_BAND,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """``(doc_id, *carry, band, bh)``: one row per signature band, keyed
    on the hash of that band's min-hash rows."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.hash(*[F.col(f"h{i}") for i in range(
                b * rows_per_band, (b + 1) * rows_per_band)]).alias("bh"),
        )
        for b in range(bands)
    ]
    return sig.select(
        "doc_id", *carry, F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", *carry, "bk.band", "bk.bh")


def lsh_candidates(
    sig: DataFrame, bands: int = BANDS, rows_per_band: int = ROWS_PER_BAND
) -> DataFrame:
    """Band-bucket join: pairs agreeing on all rows of >=1 band."""
    return _bucket_pairs(_minhash_buckets(sig, bands, rows_per_band), "bh")


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    bands: int = BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Near-dup pairs via MinHash-LSH candidates + exact-Jaccard verify.

    The default 16×4 layout catches J ≈ 0.99 fixture duplicates with
    miss ≈ 1e-22; for other duplicate profiles size the banding with
    ``minhash_layout`` and pass (bands, rows_per_band)."""
    arr = shingle_arrays(docs, n).localCheckpoint(eager=False)
    sh = arr.select("doc_id", F.explode("gs").alias("g")).localCheckpoint(
        eager=False
    )
    cand = lsh_candidates(
        minhash_signatures_from_arrays(arr), bands, rows_per_band
    )
    return (
        _pair_jaccard(cand, sh)
        .where(F.col("jac") >= threshold)
        .select("da", "db", F.round("jac", 4).alias("j"))
        .orderBy("da", "db")
    )


# ------------------------------------------------------------- SimHash

SIMHASH_BITS = 64
SIM_BANDS = 4  # 16 bits each; hamming<=3 pairs share >=1 band (pigeonhole)


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per doc from md5-derived token hashes (JVM-side).

    The token hash is the lower 64 bits of md5(w) interpreted signed
    (hex chars 17..32) — chosen over xxhash64 because md5 is bit-identical
    in DuckDB, making the whole pipeline cross-engine oracle-checkable.
    (xxhash64 is ~3x faster per token; swap back if oracle portability is
    ever not needed.)"""
    toks = (
        docs.select("doc_id", F.explode(F.split(F.trim("text"), " ")).alias("w"))
        .select(
            "doc_id",
            F.expr("cast(conv(substring(md5(w), 17, 16), 16, -10) as bigint)").alias("h"),
        )
    )
    bit_votes = [
        F.sum(F.when(F.expr(f"(h >> {i}) & 1 = 1"), 1).otherwise(-1)).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    votes = toks.groupBy("doc_id").agg(*bit_votes)
    recombine = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN shiftleft(1L, {i}) ELSE 0L END)" for i in range(SIMHASH_BITS)
    )
    return votes.select("doc_id", F.expr(recombine).alias("sh"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs with SimHash hamming distance <= max_hamming.

    Banded candidate generation (4×16-bit keys) + exact
    bit_count(xor) verification — never an all-pairs comparison.
    """
    bands = simhash_signatures(docs).select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(f"(sh >> {b * 16}) & 65535").alias("bk"),
                    )
                    for b in range(SIM_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sh", "bb.band", "bb.bk")
    return (
        _bucket_pairs(
            bands, "bk",
            carry=(F.expr("bit_count(a.sh ^ b.sh)").alias("hamming"),),
        )
        .where(F.col("hamming") <= max_hamming)
        .orderBy("da", "db")
    )


def _simhash_oracle_sql() -> str:
    """DuckDB mirror of the full SimHash pipeline (closed-form oracle).

    Token hash = lower 64 bits of md5(w) signed — built by folding the 16
    hex nibbles in HUGEINT, then two's-complement to BIGINT; identical to
    Spark's ``conv(substring(md5(w),17,16),16,-10)``.  Bit votes, band
    keys, and the hamming verify mirror ``simhash_pairs`` exactly.  The
    token split is on single spaces (the documents corpus contract)."""
    vote_cols = ",\n    ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(SIMHASH_BITS)
    )
    # bit weights as integer literals: 2^63 parses as HUGEINT in DuckDB,
    # so the sum is HUGEINT; two's-complement converts to signed BIGINT
    recombine = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i}::HUGEINT ELSE 0::HUGEINT END)"
        for i in range(SIMHASH_BITS)
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, sh, {b} AS band, (sh >> {b * 16}) & 65535 AS bk FROM sig"
        for b in range(SIM_BANDS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents
),
th AS (
  SELECT doc_id,
         (CASE WHEN u >= 9223372036854775808::HUGEINT
               THEN u - 18446744073709551616::HUGEINT ELSE u END)::BIGINT AS h
  FROM (
    SELECT doc_id,
           list_reduce(
             list_prepend(0::HUGEINT,
               list_transform(range(17, 33),
                 i -> (strpos('0123456789abcdef', substring(md5(w), i, 1)) - 1)::HUGEINT)),
             (a, x) -> a * 16 + x) AS u
    FROM toks)
),
votes AS (
  SELECT doc_id,
    {vote_cols}
  FROM th GROUP BY doc_id
),
sig AS (
  SELECT doc_id,
         (CASE WHEN usum >= 9223372036854775808::HUGEINT
               THEN usum - 18446744073709551616::HUGEINT ELSE usum END)::BIGINT AS sh
  FROM (SELECT doc_id, {recombine} AS usum FROM votes)
),
bands AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.sh AS sha, b.sh AS shb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
)
SELECT da, db, bit_count(xor(sha, shb)) AS hamming
FROM cand WHERE bit_count(xor(sha, shb)) <= 3
ORDER BY da, db
"""


# ---------------------------------------- embedding-cosine near-dup

COS_THRESHOLD = 0.42  # top of the fixture's cosine distribution

_COS_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def _cos_layout(
    threshold: float, miss: float = 1e-5, max_bands: int = 96,
    max_candidate_frac: float = 0.25, max_rpb: int = 24,
) -> tuple[int, int] | None:
    """Size banded sign-LSH from the threshold, or return None when the
    threshold is outside the pruning regime.

    Sign-LSH collision math (Goemans–Williamson / Charikar): a random
    hyperplane puts a pair at angle θ on the same side w.p.
    p = 1 − θ/π, so a band of r planes collides w.p. p^r for the pair
    and 2^-r for a random (≈orthogonal) pair.  Driving the
    per-qualifying-pair miss below `miss` needs b ≈ ln(1/miss)/p^r
    bands; the random-pair candidate fraction is then 1−(1−2^-r)^b
    ≈ b·2^-r.  At scale the candidate volume (frac × N²/2) dominates
    every other cost — projections and the b-fold explode are linear
    in N — so we take the LARGEST r whose band count stays under
    `max_bands` (r↑ ⇒ frac exponentially ↓ while b grows only as
    p^-r; the 10× probe measured the r-minimizing layout 14× slower
    at N = 20k purely on verify volume).  Because ρ = ln(1/p)/ln 2
    rises toward 1 as the threshold drops, the required b explodes
    before the fraction shrinks: at t = 0.42 (p = 0.638) NO (r, b)
    prunes — every recall-preserving layout admits ≳95% of random
    pairs (the measured fixture regime; the round-5 16×1 layout's
    "virtually all pairs collide" note was the symptom).  Then we
    return None → caller uses the exact blocked-GEMM scan, which at
    permissive thresholds is both faster and makes recall
    mathematical instead of probabilistic.  Pruning becomes available
    around t ≥ ~0.8 — the regime real embedding dedup runs at.
    """
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    need = math.log(1.0 / miss)
    for rpb in range(max_rpb, 1, -1):
        bands = math.ceil(need / (p ** rpb))
        if bands > max_bands:
            continue
        frac = 1.0 - (1.0 - 2.0 ** -rpb) ** bands
        if frac > max_candidate_frac:
            return None  # smaller r only raises the fraction further
        return (bands, rpb)
    return None


def _sign_band_codes(vs: pd.Series, bands: int, rpb: int, seed: int) -> pd.Series:
    """``band_codes`` body for one Arrow batch."""
    import numpy as np

    M = np.asarray(vs.tolist(), dtype=np.float64)
    if M.size == 0:
        return pd.Series([], dtype=object)
    planes = np.random.RandomState(seed).standard_normal(
        (bands * rpb, M.shape[1])
    )
    bits = (M @ planes.T >= 0).astype(np.int64)
    weights = 1 << np.arange(rpb - 1, -1, -1)
    codes = (bits.reshape(len(M), bands, rpb) * weights).sum(axis=2)
    return pd.Series(list(codes.astype(np.int32)))


def _cos_buckets(emb: DataFrame, bands: int, rpb: int, seed: int = 7) -> DataFrame:
    """``(vec_id, band, code)``: per-vector band codes, the sign bits of
    random-hyperplane projections, rpb bits per band.  The corpus is
    exploded `bands`x.  Projections run as one vectorized Arrow
    pandas_udf batch (numpy GEMM against the plane bank — large
    layouts are hundreds of planes, which as SQL literals would be
    megabyte expressions and per-element lambda evaluation); the plane
    bank is drawn inside the udf from the fixed seed at the observed
    dimension, so batches and engines agree deterministically."""
    from pyspark.sql.functions import pandas_udf

    ship_package(emb.sparkSession)

    @pandas_udf("array<int>")
    def band_codes(vs: pd.Series) -> pd.Series:
        return _sign_band_codes(vs, bands, rpb, seed)

    return emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    ).select("vec_id", F.posexplode(band_codes("v")).alias("band", "code"))


def _cos_band_candidates(
    emb: DataFrame, bands: int, rpb: int, seed: int = 7
) -> DataFrame:
    """(da, db) LSH candidates: shuffle join of ``_cos_buckets`` on
    (band, code) — no broadcast, no corpus², scale-safe; AQE
    re-balances hot buckets."""
    return _bucket_pairs(_cos_buckets(emb, bands, rpb, seed), "code")


def _gemm_score(key, pdf: pd.DataFrame, cut: float) -> pd.DataFrame:
    """One (bi, bj) block pair of ``_cos_gemm_candidates``: the pairs
    scoring >= ``cut``."""
    import numpy as np

    bi, bj = key
    M = np.asarray(pdf["v"].tolist(), dtype=np.float64)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    if bi == bj:
        S = M @ M.T
        iu, ju = np.triu_indices(len(ids), 1)
        keep = S[iu, ju] >= cut
        a, b = ids[iu[keep]], ids[ju[keep]]
    else:
        left = (pdf["blk"] == bi).to_numpy()
        A, B = M[left], M[~left]
        ia, ib = np.where(A @ B.T >= cut)
        a, b = ids[left][ia], ids[~left][ib]
    return pd.DataFrame(
        {"da": np.minimum(a, b), "db": np.maximum(a, b)}
    )


def _cos_gemm_candidates(
    emb: DataFrame, threshold: float, block_rows: int | None = None
) -> DataFrame:
    """(da, db) exact all-pairs candidates via blocked GEMM — the
    FAISS-IndexFlat shape, distributed.

    Each vector lands in one of B hash blocks; every unordered block
    pair (bi ≤ bj) is one Arrow group whose pandas fn runs a single
    numpy matrix multiply and emits only pairs scoring ≥ threshold−ε.
    Shuffle volume is N·B rows (each vector replicated B times), pair
    enumeration never materializes in Spark rows, and the N²d FLOPs run
    at BLAS throughput executor-side with zero driver involvement —
    the standard exhaustive scorer when the threshold is below the LSH
    pruning regime (see _cos_layout).  ε = 1e-9 is ~5 orders above any
    GEMM-vs-left-fold float discrepancy at d = 64 and ~4 orders below
    the fixtures' threshold margin, so the exact verify stage sees a
    candidate superset and the recall identity is arithmetic, not
    probabilistic."""
    spark = emb.sparkSession
    ship_package(spark)
    n = emb.count()
    # block count grows WITH n (uncapped): every group then holds at
    # most 2·block_rows vectors — bounded executor memory — while the
    # B(B+1)/2 group count mirrors the O(N²) pair work this regime
    # inherently pays.  That bounds the path's practical domain to
    # corpora where exhaustive scoring is affordable at all (~1e5
    # vectors; beyond that, raise the threshold into the LSH pruning
    # regime or bound candidates structurally first — SemDeDup
    # clustering — rather than capping B and blowing up group memory).
    if block_rows is None:
        # scale-adaptive (round 15): pick the block size so the
        # B(B+1)/2 group count covers ~2x the core count (parallelism
        # floor at small N) while blocks cap at 1024 rows (the shuffle
        # replicates each vector B times, so bigger blocks mean less
        # shuffle at large N; a 2048x2048 score tile is 33 MB —
        # bounded).  10x A/B: 1024-row blocks beat 512 (1.58 vs
        # 1.72 s) and 2048 (1.95 s, too few in-flight groups per wave).
        import math

        cores = emb.sparkSession.sparkContext.defaultParallelism
        b_target = max(4, math.isqrt(4 * cores))
        block_rows = min(1024, max(256, -(-n // b_target)))
    nblocks = int(max(1, -(-n // block_rows)))
    pairs = spark.createDataFrame(
        [(i, j) for i in range(nblocks) for j in range(i, nblocks)],
        "bi int, bj int",
    )
    v = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        F.pmod(F.xxhash64("vec_id"), F.lit(nblocks)).cast("int").alias("blk"),
    )
    repl = v.join(
        F.broadcast(pairs),
        (F.col("blk") == F.col("bi")) | (F.col("blk") == F.col("bj")),
    )
    cut = threshold - 1e-9

    def score(key, pdf):
        return _gemm_score(key, pdf, cut)

    return repl.groupBy("bi", "bj").applyInPandas(score, "da bigint, db bigint")


def cosine_near_dup_pairs(
    emb: DataFrame,
    threshold: float = COS_THRESHOLD,
    bands: int | None = None,
    planes_per_band: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: threshold-adaptive
    candidate generation + exact double-precision cosine verification.

    Flink has no counterpart; this is the embedding tier of the dedup
    family (exact / Jaccard / MinHash / SimHash / cosine).  Candidate
    strategy is picked from the threshold (see _cos_layout): at real
    dedup thresholds (≥ ~0.85) banded multi-plane sign-LSH prunes the
    candidate volume to a bounded fraction of N²/2 while keeping the
    per-pair miss below 1e-5; at permissive thresholds (the fixture's
    0.42, where ρ ≈ 0.65 makes any recall-preserving layout admit
    ~all pairs — the round-5 16×1 layout measured exactly that) the
    exact blocked-GEMM scan is used instead, which is faster than a
    degenerate LSH pass (no 16× explode, no pair-materialized
    DISTINCT) and makes the brute-force-oracle recall identity exact
    by construction.  Either way the declared `sim` for surviving
    pairs is the same JVM left-fold expression, so output values are
    bit-identical across strategies.  Explicit (bands,
    planes_per_band) override the auto layout."""
    if (bands is None) != (planes_per_band is None):
        raise ValueError(
            "bands and planes_per_band must be provided together "
            f"(got bands={bands!r}, planes_per_band={planes_per_band!r})"
        )
    if bands is not None and planes_per_band is not None:
        layout: tuple[int, int] | None = (bands, planes_per_band)
    else:
        layout = _cos_layout(threshold)
    cand = (
        _cos_band_candidates(emb, *layout)
        if layout is not None
        else _cos_gemm_candidates(emb, threshold)
    )
    # Norms are per-vector: compute them once in the vector projection,
    # not per candidate pair (the verify join evaluates its select over
    # |candidates| rows — recomputing two 128-dim norms there tripled
    # the higher-order-function work per pair).  The projection feeds
    # both verify-join sides: lazy-checkpoint so it runs once (round 14).
    v = emb.select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v")
    ).withColumn(
        "n", F.expr("sqrt(aggregate(v, 0D, (a, x) -> a + x * x))")
    ).localCheckpoint(eager=False)
    return (
        cand.join(
            v.select(F.col("vec_id").alias("da"), F.col("v").alias("va"),
                     F.col("n").alias("na")),
            "da",
        )
        .join(
            v.select(F.col("vec_id").alias("db"), F.col("v").alias("vb"),
                     F.col("n").alias("nb")),
            "db",
        )
        .select(
            "da",
            "db",
            (F.expr(_COS_DOT.format(a="va", b="vb")) / (F.col("na") * F.col("nb"))).alias(
                "sim"
            ),
        )
        .where(F.col("sim") >= threshold)
        .select("da", "db", F.round("sim", 4).alias("c"))
        .orderBy("da", "db")
    )


# Brute-force ground truth: the oracle does NOT replicate the candidate
# generation, so a green row proves the Spark path loses nothing at the
# threshold (at 0.42 the blocked-GEMM path's candidate superset makes
# that an arithmetic identity; threshold margin to the nearest excluded
# pair is >= 7.3e-5 across fixtures — far above cross-engine float
# noise; the declared sim folds left-to-right in DOUBLE on both
# engines).
COSINE_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
p AS (
  SELECT a.vec_id da, b.vec_id db,
         list_dot_product(a.v, b.v) /
           (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT da, db, round(sim, 4) AS c FROM p
WHERE sim >= {COS_THRESHOLD} ORDER BY da, db
"""


# ----------------------------------------------------------- registry

# Verifier slice (round 10, suite-budget rule): the quadratic
# exact-verifier entries and their compositions run on a deterministic
# half-corpus slice — the OPERATORS are unchanged and still run on the
# full table when called directly; only the declared fixtures shrink
# (a planted-pair subset proves the same contract at 1/4 the pairwise
# cost; ~67/256 jaccard and ~122/441 cosine planted pairs survive the
# slice at sf0.1).  Both engines apply the identical integer-mod
# predicate, so the comparison stays exact.
DOC_SLICE = "doc_id % 2 = 0"
VEC_SLICE = "vec_id % 2 = 0"
import re as _re


def sliced_oracle(sql: str, table: str, pred: str) -> str:
    """Derive a verifier-slice oracle: every scan of ``table`` gets the
    slice predicate pushed into a derived table of the same name."""
    return _re.sub(
        rf"\bFROM {table}\b",
        f"FROM (SELECT * FROM {table} WHERE {pred}) {table}",
        sql,
    )


def _exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_stats(spark, sf_dir)


def _jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        catalog.load_table(spark, sf_dir, "documents").where(DOC_SLICE))


def _minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        catalog.load_table(spark, sf_dir, "documents").where(DOC_SLICE))


def _simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(catalog.load_table(spark, sf_dir, "documents"))


def _cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_near_dup_pairs(
        catalog.load_table(spark, sf_dir, "embeddings").where(VEC_SLICE))


# ---------------------------------------- near-dup cluster resolution

def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level near-dup resolution: MinHash-LSH pairs → connected
    components → canonical survivor (min doc_id per cluster).

    The full 100 TB dedup decision pipeline in one composition: LSH
    bounds the candidate volume, exact Jaccard verifies, label
    propagation (operators/iterate.connected_components — per-round
    lineage truncation) resolves transitive duplicate chains, and
    ``keep`` marks each cluster's canonical representative the way a
    training-data pipeline actually consumes dedup output.
    """
    from ..operators.iterate import connected_components

    docs = catalog.load_table(spark, sf_dir, "documents").where(DOC_SLICE)
    pairs = minhash_lsh_pairs(docs)
    edges = pairs.select(F.col("da").alias("src"), F.col("db").alias("dst"))
    cc = connected_components(edges)
    return (
        docs.select("doc_id")
        .join(cc, docs["doc_id"] == cc["vertex"], "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster"),
            (F.col("doc_id") == F.coalesce("component", "doc_id"))
            .cast("int")
            .alias("keep"),
        )
        .orderBy("doc_id")
    )


# Oracle: the exact-Jaccard edge set (identical to the LSH+verify output
# — x_dedup_minhash shares JACCARD_ORACLE on that basis), then connected
# components as a recursive label-propagation CTE: every reachable label
# propagates, min per vertex = component root.
CLUSTERS_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(trim(text), ' ') w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM toks, unnest(generate_series(1, greatest(len(w)-2, 0))) t(i)
), cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
p AS (
  SELECT a.doc_id da, b.doc_id db, count(*) c
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), jpairs AS (
  SELECT da, db FROM p JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
  WHERE c * 1.0 / (ca.n + cb.n - c) >= 0.5
), edges AS (
  SELECT da s, db d FROM jpairs UNION ALL SELECT db s, da d FROM jpairs
), cc AS (
  SELECT doc_id AS vertex, doc_id AS comp FROM documents
  UNION
  SELECT e.d AS vertex, cc.comp FROM cc JOIN edges e ON e.s = cc.vertex
)
SELECT vertex AS doc_id, cast(min(comp) as bigint) AS cluster,
       cast(CASE WHEN vertex = min(comp) THEN 1 ELSE 0 END as int) AS keep
FROM cc GROUP BY vertex ORDER BY doc_id
"""


# --------------------------------------------- incremental ingest dedup

INCR_NEW_PCT = 20  # md5-bucket share of docs playing the "new batch"


def incremental_dedup_pairs(
    docs: DataFrame, new_pct: int = INCR_NEW_PCT, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Ingest-time near-dup check: docs are split into an INDEXED corpus
    and a NEW batch (deterministic md5 bucket standing in for the daily
    ingest); returns every near-dup pair that involves a new doc —
    new-vs-index and new-vs-new — tagged with the pair kind.  Indexed
    pairs among themselves are NOT recomputed: the one-sided candidate
    pruning is the point of incremental ingest (at 100 TB the index
    side's signatures are a precomputed table; only the new batch is
    shingled and hashed fresh, and candidate volume is bounded by the
    new batch's band collisions, not the corpus's).

    Composition: MinHash band buckets on both sides, but the bucket
    join requires a new doc on >= one side; exact-Jaccard verification
    of candidates only (same oracle contract as x_dedup_minhash —
    LSH-miss probability ~1e-22 at the fixture's pair similarity).
    """
    from .pipeline import _SPARK_BUCKET

    flags = docs.select(
        "doc_id",
        (F.expr(_SPARK_BUCKET.format(salt="ingest")) < new_pct).alias("is_new"),
    )
    arr = shingle_arrays(docs, n).localCheckpoint(eager=False)
    sh = arr.select("doc_id", F.explode("gs").alias("g")).localCheckpoint(
        eager=False
    )
    sig = minhash_signatures_from_arrays(arr).join(flags, "doc_id")
    cand = _bucket_pairs(
        _minhash_buckets(sig, carry=("is_new",)), "bh",
        on=F.col("a.is_new") | F.col("b.is_new"),  # one-sided pruning
        carry=((F.col("a.is_new") & F.col("b.is_new")).alias("_both"),),
    )
    verified = _pair_jaccard(cand.select("da", "db"), sh).where(
        F.col("jac") >= threshold
    )
    return (
        verified.join(cand, ["da", "db"])
        .select(
            "da",
            "db",
            F.round("jac", 4).alias("j"),
            F.when(F.col("_both"), F.lit("new-new"))
            .otherwise(F.lit("new-index"))
            .alias("kind"),
        )
        .orderBy("da", "db")
    )


def _incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # declared fixture = the half-corpus verifier slice (round-10
    # suite-budget rule, same idiom as jaccard/minhash/clusters); pair
    # survival checked at all scales: 8/2/19 at sf0.001/0.01/0.1, both
    # 'new-new' and 'new-index' kinds present at sf0.001 and sf0.1.
    return incremental_dedup_pairs(
        catalog.load_table(spark, sf_dir, "documents").where(DOC_SLICE))


def _incremental_oracle_sql() -> str:
    from .pipeline import _DUCK_BUCKET

    bucket = _DUCK_BUCKET.format(salt="ingest")
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(trim(text), ' ') w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM toks, unnest(generate_series(1, greatest(len(w)-2, 0))) t(i)
), cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
fl AS (SELECT doc_id, ({bucket}) < {INCR_NEW_PCT} AS is_new FROM documents),
p AS (
  SELECT a.doc_id da, b.doc_id db, count(*) c
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT da, db, round(c * 1.0 / (ca.n + cb.n - c), 4) j,
       CASE WHEN fa.is_new AND fb.is_new THEN 'new-new' ELSE 'new-index' END kind
FROM p
JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
JOIN fl fa ON fa.doc_id = da JOIN fl fb ON fb.doc_id = db
WHERE c * 1.0 / (ca.n + cb.n - c) >= 0.5 AND (fa.is_new OR fb.is_new)
ORDER BY da, db
"""


# ------------------------------------ streaming incremental ingest dedup

def streaming_minhash_dedup(
    doc_stream: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint: str,
    n: int = 3,
    threshold: float = 0.5,
):
    """Streaming rendering of incremental ingest dedup: each micro-batch
    of documents is checked for near-dups against the accumulated
    corpus INDEX (a persistent signature + shingle table), verified
    pairs are appended to ``pairs_dir``, and the batch joins the index.

    This is the production shape of ``incremental_dedup_pairs``: the
    index side is PRECOMPUTED state on disk (never re-shingled), only
    the new batch is hashed fresh, and the candidate join requires a
    new doc on one side — per-batch cost tracks the batch's band
    collisions, not corpus size.  foreachBatch gives the transactional
    read-index/emit-pairs/extend-index step (Flink's equivalent is a
    keyed CoProcessFunction over a broadcast-partitioned signature
    state; the relational state table is Spark's natural rendering).

    Pair-emission contract: a pair (da, db) is emitted by the batch
    that contains its LATER-ARRIVING member; the union of all emitted
    pairs over a replay equals the batch ``minhash_lsh_pairs`` of the
    full corpus (asserted by S12).
    """
    import os

    def process(batch: DataFrame, _bid: int) -> None:
        spark = batch.sparkSession
        batch = batch.localCheckpoint(eager=True)
        sh_new = shingles(batch, n).localCheckpoint(eager=True)
        sig_new = minhash_signatures(sh_new).localCheckpoint(eager=True)
        # the batch's rows are flagged new: the one-sided candidate
        # join of incremental_dedup_pairs over index + batch
        sig_all = sig_new.withColumn("is_new", F.lit(True))
        sh_all = sh_new
        if os.path.exists(os.path.join(index_dir, "sig")):
            sig_all = (
                spark.read.parquet(os.path.join(index_dir, "sig"))
                .withColumn("is_new", F.lit(False))
                .unionByName(sig_all)
            )
            sh_all = spark.read.parquet(
                os.path.join(index_dir, "sh")).unionByName(sh_new)
        cand = _bucket_pairs(
            _minhash_buckets(sig_all, carry=("is_new",)), "bh",
            on=F.col("a.is_new") | F.col("b.is_new"),
        )
        pairs = (
            _pair_jaccard(cand, sh_all)
            .where(F.col("jac") >= threshold)
            .select("da", "db", F.round("jac", 4).alias("j"))
        )
        pairs.write.mode("append").parquet(pairs_dir)
        sig_new.write.mode("append").parquet(os.path.join(index_dir, "sig"))
        sh_new.write.mode("append").parquet(os.path.join(index_dir, "sh"))

    return (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


# ------------------------------------- semantic dedup (cluster-bounded)

SEM_BLOCKS = 8  # pair-space blocks per cluster (see semdedup_pairs)


def semdedup_pairs(
    emb: DataFrame, threshold: float = COS_THRESHOLD, k: int | None = None
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding near-dup pairs found by
    comparing only WITHIN k-means clusters — the beyond-LSH candidate
    strategy for semantic dedup at corpus scale.

    Candidate volume is sum(cluster_size^2)/2 instead of corpus^2/2 —
    with k clusters of balanced size that is a k-fold cut (real
    deployments use k ~ 1e5 on 1e8+ docs).  The k-means assignment is
    the int-quantized bit-exact one (extensions/curation.py), so the
    cluster filter is engine-exact; the cosine verify runs on the
    original fp32-as-double vectors with an ordered fold, so the
    comparison value is bit-identical across engines too.  A pair above
    threshold in DIFFERENT clusters is excluded by design — that recall
    trade-off is the documented SemDeDup contract (vs the LSH tier
    x_dedup_cosine, which bounds recall by band layout instead).
    """
    from .curation import KM_K, kmeans_assign

    # k is THE scale knob: hold cluster size constant by growing k with
    # the corpus (k ~ N / target_cluster_size) and candidate volume
    # stays linear; a fixed k makes it quadratic (measured in
    # SCALE_NOTES.md).  The declared entry pins k=8 for the static
    # oracle; callers at scale pass their own.
    assign = kmeans_assign(emb, k=k if k is not None else KM_K)
    # the (vector, norm, cluster) projection feeds BOTH pair sides: the
    # lazy checkpoint runs the k-means assignment distances (k
    # interpreted 64-dim folds per vector) and the norm fold once
    # instead of once per side (round 14, same fix as the LSH tiers)
    v = (
        emb.select(
            "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v")
        )
        .withColumn("n", F.expr("sqrt(aggregate(v, 0D, (a, x) -> a + x * x))"))
        .join(assign, "vec_id")
        .localCheckpoint(eager=False)
    )
    # Pair-space block decomposition (round 15, guide §2.5): the pair
    # join's key is `cluster`, so with the declared k=8 at most k tasks
    # ever do the quadratic verify — the 10x scale-up showed the entry
    # flat from 4 to 32 cores.  Tagging the b side with db % B and
    # replicating the a side across the B target blocks splits each
    # cluster's pair space into k*B evenly-sized tasks; every (da, db)
    # pair still matches EXACTLY once (in the a-copy tagged with db's
    # block), so the output is row-identical.  The a-side replication
    # shuffles B extra copies of the vectors — bounded, and at real
    # scale k itself grows with the corpus (the documented knob); B is
    # belt-and-braces for the k << cores regime.
    a = v.select(
        F.col("vec_id").alias("da"), F.col("v").alias("va"),
        F.col("n").alias("na"), F.col("cluster"),
    ).withColumn("_bb", F.explode(F.expr(f"sequence(0, {SEM_BLOCKS - 1})")))
    b = v.select(
        F.col("vec_id").alias("db"), F.col("v").alias("vb"),
        F.col("n").alias("nb"), F.col("cluster"),
        F.pmod(F.col("vec_id"), F.lit(SEM_BLOCKS)).alias("_bb"),
    )
    return (
        a.join(b, ["cluster", "_bb"])
        .where(F.col("da") < F.col("db"))
        .withColumn(
            "sim",
            F.expr(_COS_DOT.format(a="va", b="vb")) / (F.col("na") * F.col("nb")),
        )
        .where(F.col("sim") >= threshold)
        .select("cluster", "da", "db", F.round("sim", 4).alias("c"))
        .orderBy("da", "db")
    )


def _semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semdedup_pairs(
        catalog.load_table(spark, sf_dir, "embeddings").where(VEC_SLICE))


def _semdedup_oracle_sql() -> str:
    """KMEANS assignment CTEs (bit-exact, from curation) + within-cluster
    exact cosine with the same left-fold order as Spark's aggregate().
    Both scans run on the declared verifier slice (the k-means seeds and
    centroids are recomputed on the slice in BOTH engines)."""
    from .curation import KMEANS_ORACLE

    km = sliced_oracle(
        KMEANS_ORACLE, "embeddings", VEC_SLICE
    ).strip().rstrip().rsplit("ORDER BY vec_id", 1)[0]
    fold = (
        "list_reduce(list_prepend(0.0, list_transform(range(1, 65),"
        " j -> {a}[j] * {b}[j])), (acc, x) -> acc + x)"
    )
    return f"""
WITH asg AS (
  {km}
), ev AS (
  SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
  WHERE {VEC_SLICE}
), vv AS (
  SELECT ev.vec_id, ev.v,
         sqrt({fold.format(a="ev.v", b="ev.v")}) AS n,
         asg.cluster
  FROM ev JOIN asg USING (vec_id)
)
SELECT a.cluster, a.vec_id da, b.vec_id db,
       round({fold.format(a="a.v", b="b.v")} / (a.n * b.n), 4) AS c
FROM vv a JOIN vv b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
WHERE {fold.format(a="a.v", b="b.v")} / (a.n * b.n) >= {COS_THRESHOLD}
ORDER BY da, db
"""


# --------------------------- cross-doc n-gram ownership (substring dedup)

SUB_NGRAM = 5


def substring_dedup_stats(docs: DataFrame, n: int = SUB_NGRAM) -> DataFrame:
    """Cross-document repeated-n-gram accounting (the relational
    rendering of exact-substring dedup, Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better").

    Every n-gram OCCURRENCE (position-level, not per-doc-distinct) is
    owned by its globally first occurrence in (doc_id, pos) order; all
    later occurrences are duplicated spans a substring-dedup pass would
    drop.  Two shuffles: ownership (groupBy gram) and the per-doc
    rollup.  At 100 TB the production algorithm is a suffix array over
    shards; this n-gram-granular rendering is the documented delta —
    same removal decisions for spans >= n, one declarative plan.

    Output: (doc_id, n_grams, n_dup, clean) with clean = 1 when less
    than half the doc's spans are owned elsewhere (integer-exact).
    """
    parts = ", ".join(f"get(w, i - 1 + {j})" for j in range(n))
    grams = (
        docs.select("doc_id", F.split(F.trim("text"), " ").alias("w"))
        .where(F.expr(f"size(w) >= {n}"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(w) - {n - 1}),"
                    f" i -> concat_ws(' ', {parts}))"
                )
            ).alias("pos", "g"),
        )
        .withColumn("k", F.col("doc_id") * 1000000 + F.col("pos"))
    )
    # ownership as a whole-partition window min instead of the old
    # groupBy(g) + join-back: one pass over the gram stream and one
    # exchange on g, where the join form computed the gram explode
    # twice and shuffled it twice (round 14, guide §2.4; same integer
    # comparisons, row-identical output).  Skew caveat (ADVICE r14): a
    # frameless window buffers each gram's whole partition in WindowExec,
    # so an extremely frequent gram materializes/spills where the old
    # hash aggregate streamed — at 100 TB shapes with degenerate gram
    # distributions the groupBy(g)+join form is the skew-safe fallback.
    from pyspark.sql.window import Window

    own_w = Window.partitionBy("g")
    return (
        grams.withColumn("ok", F.min("k").over(own_w))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("k") > F.col("ok")).cast("long")).alias("n_dup"),
        )
        .withColumn(
            "clean", (2 * F.col("n_dup") < F.col("n_grams")).cast("int")
        )
        .orderBy("doc_id")
    )


def _substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_dedup_stats(catalog.load_table(spark, sf_dir, "documents"))


SUBSTRING_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(trim(text), ' ') w FROM documents
), g AS (
  SELECT doc_id, i - 1 AS pos,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS g,
         doc_id * 1000000 + (i - 1) AS k
  FROM toks, unnest(generate_series(1, greatest(len(w) - 4, 0))) t(i)
  WHERE len(w) >= 5
), own AS (
  SELECT g, min(k) ok FROM g GROUP BY g
)
SELECT doc_id, count(*) n_grams,
       cast(sum(CASE WHEN g.k > own.ok THEN 1 ELSE 0 END) as bigint) n_dup,
       cast(CASE WHEN 2 * sum(CASE WHEN g.k > own.ok THEN 1 ELSE 0 END) < count(*)
                 THEN 1 ELSE 0 END as int) clean
FROM g JOIN own USING (g)
GROUP BY doc_id ORDER BY doc_id
"""


# ---------------- LSH pruning-regime entry (round 7, VERDICT r6 #6)
#
# The fixture threshold (0.42) routes cosine_near_dup_pairs to the
# exact blocked-GEMM scan, so no DECLARED entry exercised the banded
# sign-LSH path _cos_layout sizes for real dedup thresholds.  This
# entry runs it at t = 0.95 on planted near-dups: each of the first
# `n_plant` unit vectors gets a deterministic companion
# v' = v + 0.22·reverse(v) (cosine(v, v') ≈ 0.976–0.981 for unit v —
# above the threshold but with sign bits that differ on low-margin
# planes, so collision happens per-band, not trivially in every band).
# The pipeline is approximate by design but deterministic end-to-end
# (the x_ann_lsh_top1 pattern): the oracle replays the exact seeded
# hyperplane bank (np.random.RandomState(seed=7), the same floats the
# pandas_udf draws) and the same band/code packing, so both engines
# enumerate identical candidates and verify them with the same
# double-precision cosine.  Recall vs brute force is asserted
# separately in tests/test_extensions.py.

_PLANT_MIX = (
    "transform(sequence(1, {dim}), i -> "
    "element_at({v}, i) + 0.22D * element_at({v}, {dim} + 1 - i))"
)


def cosine_lsh_planted(
    spark: SparkSession, sf_dir: str, threshold: float = 0.95,
    bands: int = 8, planes_per_band: int = 12, n_plant: int = 40,
) -> DataFrame:
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )
    planted = v.where(F.col("vec_id") < n_plant).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(_PLANT_MIX.format(v="embedding", dim=64)).alias("embedding"),
    )
    return cosine_near_dup_pairs(
        v.unionByName(planted), threshold=threshold,
        bands=bands, planes_per_band=planes_per_band,
    )


def _cos_lsh_oracle_sql(
    threshold: float = 0.95, bands: int = 8, rpb: int = 12,
    n_plant: int = 40, seed: int = 7, dim: int = 64,
) -> str:
    """Closed-form DuckDB replay of the banded sign-LSH pipeline: the
    plane bank is the exact RandomState(seed) draw _cos_band_candidates
    makes (repr round-trips the doubles), band codes pack sign bits
    MSB-first per band exactly as the numpy weights do, candidates are
    DISTINCT same-(band, code) pairs, and the verify step is the same
    single-division double cosine as COSINE_ORACLE."""
    import numpy as np

    planes = np.random.RandomState(seed).standard_normal((bands * rpb, dim))
    rows = ",\n".join(
        f"({i}, [{', '.join(repr(float(x)) for x in row)}]::DOUBLE[])"
        for i, row in enumerate(planes)
    )
    return f"""
WITH planes(pid, p) AS (VALUES {rows}),
base AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
aug AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(range(1, {dim + 1}), i -> v[i] + 0.22 * v[{dim} + 1 - i])
  FROM base WHERE vec_id < {n_plant}),
codes AS (
  SELECT vec_id, pid // {rpb} AS band,
         cast(sum(CASE WHEN list_dot_product(v, p) >= 0
                       THEN 1 << ({rpb} - 1 - pid % {rpb}) ELSE 0 END) AS int) code
  FROM aug CROSS JOIN planes
  GROUP BY vec_id, pid // {rpb}),
cand AS (
  SELECT DISTINCT a.vec_id da, b.vec_id db
  FROM codes a JOIN codes b
    ON a.band = b.band AND a.code = b.code AND a.vec_id < b.vec_id),
pairs AS (
  SELECT da, db,
         list_dot_product(va.v, vb.v) /
           (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))) sim
  FROM cand
  JOIN aug va ON va.vec_id = da
  JOIN aug vb ON vb.vec_id = db)
SELECT da, db, round(sim, 4) AS c FROM pairs
WHERE sim >= {threshold} ORDER BY da, db
"""


registry.register("x_dedup_exact", _exact, EXACT_SQL)
registry.register(
    "x_dedup_jaccard", _jaccard,
    sliced_oracle(JACCARD_ORACLE, "documents", DOC_SLICE))
registry.register(  # shares the jaccard oracle — see module docstring
    "x_dedup_minhash", _minhash,
    sliced_oracle(JACCARD_ORACLE, "documents", DOC_SLICE))
registry.register("x_dedup_simhash", _simhash, _simhash_oracle_sql())
registry.register(
    "x_dedup_cosine", _cosine,
    sliced_oracle(COSINE_ORACLE, "embeddings", VEC_SLICE))
registry.register("x_dedup_cosine_lsh", cosine_lsh_planted, _cos_lsh_oracle_sql())
registry.register(
    "x_dedup_clusters", dedup_clusters,
    sliced_oracle(CLUSTERS_ORACLE, "documents", DOC_SLICE))
registry.register("x_substring_dedup", _substring, SUBSTRING_ORACLE)
registry.register(
    "x_dedup_incremental", _incremental,
    sliced_oracle(_incremental_oracle_sql(), "documents", DOC_SLICE))
# x_semdedup is registered from extensions/curation.py (its oracle embeds
# the k-means CTEs; registering there avoids a circular import at load).


# ------------------------------------------------ asymmetric containment

CONTAIN_THRESHOLD = 0.6


def containment_pairs(docs: DataFrame, n: int = 3) -> DataFrame:
    """Asymmetric shingle containment: C(A→B) = |A∩B| / |A|.

    Jaccard misses subset relations (a doc fully embedded in a much
    larger one scores low); containment is the dedup family's
    superset/subset detector (the "document A is a quote of B" case).
    Exact-verifier shape like ``jaccard_pairs`` — at 100 TB the
    candidate side is MinHash-LSH or the PPJoin prefix filter, with
    this join verifying candidates only (same composition contract as
    the rest of the family).
    """
    # read 3x (both join sides + counts): lazy-checkpoint so the
    # shingle explode runs once (round 14, same fix as the LSH tiers)
    sh = shingles(docs, n).localCheckpoint(eager=False)
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count("*").alias("c"))
    )
    out = (
        inter.join(cnt.alias("ca"), F.col("da") == F.col("ca.doc_id"))
        .join(cnt.alias("cb"), F.col("db") == F.col("cb.doc_id"))
        .select(
            "da",
            "db",
            F.round(F.col("c") * 1.0 / F.col("ca.n"), 4).alias("c_ab"),
            F.round(F.col("c") * 1.0 / F.col("cb.n"), 4).alias("c_ba"),
        )
        .where(
            (F.col("c") * 1.0 / F.col("ca.n") >= CONTAIN_THRESHOLD)
            | (F.col("c") * 1.0 / F.col("cb.n") >= CONTAIN_THRESHOLD)
        )
        .orderBy("da", "db")
    )
    return out


def _containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment_pairs(
        catalog.load_table(spark, sf_dir, "documents").where(DOC_SLICE))


CONTAIN_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(trim(text), ' ') w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM toks, unnest(generate_series(1, greatest(len(w)-2, 0))) t(i)
), cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id da, b.doc_id db, count(*) c
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT da, db,
       round(c * 1.0 / ca.n, 4) AS c_ab,
       round(c * 1.0 / cb.n, 4) AS c_ba
FROM pairs JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
WHERE c * 1.0 / ca.n >= {CONTAIN_THRESHOLD} OR c * 1.0 / cb.n >= {CONTAIN_THRESHOLD}
ORDER BY da, db
"""

registry.register(
    "x_dedup_containment", _containment,
    sliced_oracle(CONTAIN_ORACLE, "documents", DOC_SLICE))


# --------------------------------------------- fuzzy record linkage

FUZZY_LINK_SQL = """
WITH names AS (
  SELECT p_name, cast(count(*) AS bigint) n
  FROM part GROUP BY p_name),
p AS (SELECT *, substr(p_name, 1, 2) AS blk, length(p_name) AS ln FROM names)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       cast(levenshtein(a.p_name, b.p_name) AS bigint) dist,
       cast(a.n * b.n AS bigint) pair_weight
FROM p a JOIN p b ON a.blk = b.blk AND a.p_name < b.p_name
WHERE abs(a.ln - b.ln) <= 2 AND levenshtein(a.p_name, b.p_name) <= 4
ORDER BY name_a, name_b
"""


def fuzzy_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage (edit-distance entity matching —
    the classic dirty-name-join of a data-cleaning pipeline, cf.
    Fellegi-Sunter record linkage and blocking surveys).

    100 TB shape: linkage runs at the DISTINCT-ENTITY grain — a
    map-side aggregation collapses the corpus to its distinct names
    with counts BEFORE any pairing (here 20k rows → 64 names), then a
    prefix+length-band block join bounds candidates per block and the
    exact levenshtein verifies.  Occurrence counts ride along so pair
    weights reconstruct corpus-grain statistics without the quadratic
    corpus self-join.  Both engines implement integer edit distance
    identically, so the declared output is exact.
    """
    catalog.register(spark, sf_dir)
    return spark.sql(FUZZY_LINK_SQL)


registry.register("x_fuzzy_link", fuzzy_link, FUZZY_LINK_SQL)
