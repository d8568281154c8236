"""Embedding similarity search over ``embeddings`` (SURVEY.md §8.4).

- Brute-force cosine top-k: broadcast the (small) query side against the
  full corpus; dot product via ``zip_with``/``aggregate`` higher-order
  functions in DOUBLE (JVM-side, codegen'd — no Python).  The baseline
  and the verifier.
- Random-hyperplane LSH: deterministic hyperplanes (seeded numpy),
  signature = sign-bit string, bucket join restricts candidates; exact
  re-ranking inside buckets.  The scale path: candidate volume is
  governed by bucket width, not corpus², and every stage is a plain
  shuffle.
- kNN label vote: majority label of the k nearest, deterministic
  tie-breaks (count desc, label asc).

Numeric contract with the DuckDB oracle: both engines cast float32 →
DOUBLE *before* multiplying and sum left-to-right, so cosine values are
bit-comparable; ranking gaps in the fixtures are >=1e-4, far above any
float-noise.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import catalog
from . import registry

DIM = 64

_DOT = "aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
_TO_DOUBLE = "transform(embedding, x -> cast(x as double))"


def _with_vec(df: DataFrame, out: str = "v") -> DataFrame:
    return df.select("vec_id", "label", F.expr(_TO_DOUBLE).alias(out))


def cosine_pairs(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """(qid, nid, sim) for every query×corpus pair, qid != nid.

    The query side is broadcast — at 100 TB the corpus never shuffles.
    """
    # Norms are per-vector: computed once per side, not per pair (the
    # pair select runs |q|×|corpus| times — only the dot belongs there).
    q = _with_vec(queries).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("va"),
        F.sqrt(F.expr("aggregate(v, 0D, (a, x) -> a + x * x)")).alias("qnorm"),
    )
    c = _with_vec(corpus).select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlabel"),
        F.col("v").alias("vb"),
        F.sqrt(F.expr("aggregate(v, 0D, (a, x) -> a + x * x)")).alias("cnorm"),
    )
    return (
        c.join(F.broadcast(q), F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            "nlabel",
            (F.expr(_DOT) / (F.col("qnorm") * F.col("cnorm"))).alias("sim"),
        )
    )


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 1) -> DataFrame:
    """Exact top-k cosine neighbors per query (deterministic ties)."""
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        cosine_pairs(queries, corpus)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


def ann_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    return (
        cosine_topk(emb.where("vec_id < 50"), emb, k=1)
        .select("qid", "nid", F.round("sim", 4).alias("s"))
        .orderBy("qid")
    )


ANN_TOP1_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
p AS (
  SELECT a.vec_id qid, b.vec_id nid,
         list_dot_product(a.v, b.v) /
           (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) sim
  FROM e a JOIN e b ON a.vec_id < 50 AND b.vec_id <> a.vec_id
)
SELECT qid, nid, round(sim, 4) s
FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) rn FROM p)
WHERE rn = 1 ORDER BY qid
"""


def knn_label(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Majority label of the k nearest neighbors, per query vector."""
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    top = cosine_topk(emb.where("vec_id < 50"), emb, k=k)
    votes = top.groupBy("qid", "nlabel").agg(F.count("*").alias("c"))
    w = Window.partitionBy("qid").orderBy(F.col("c").desc(), F.col("nlabel"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("qid", F.col("nlabel").alias("pred_label"))
        .orderBy("qid")
    )


KNN_ORACLE = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
p AS (
  SELECT a.vec_id qid, b.vec_id nid, b.label nlabel,
         list_dot_product(a.v, b.v) /
           (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) sim
  FROM e a JOIN e b ON a.vec_id < 50 AND b.vec_id <> a.vec_id
),
top AS (
  SELECT qid, nlabel
  FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) rn FROM p)
  WHERE rn <= 5
),
votes AS (SELECT qid, nlabel, count(*) c FROM top GROUP BY qid, nlabel)
SELECT qid, nlabel AS pred_label
FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY c DESC, nlabel) rn FROM votes)
WHERE rn = 1 ORDER BY qid
"""


# ------------------------------------------------ LSH bucketed variant

N_PLANES = 8  # 2^8 buckets — sized so fixture-scale buckets stay non-empty


def _hyperplanes(seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((N_PLANES, DIM)).tolist()


def _plane_dots_expr(vec_col: str = "v") -> str:
    """array<double> of the raw hyperplane projections (one per plane)."""
    planes = _hyperplanes()
    dots = []
    for p in planes:
        arr = "array(" + ", ".join(f"{x!r}D" for x in p) + ")"
        dots.append(
            f"aggregate(zip_with({vec_col}, {arr}, (x, y) -> x * y), 0D, (a, x) -> a + x)"
        )
    return "array(" + ", ".join(dots) + ")"


_BUCKET_FROM_DOTS = (
    "aggregate(zip_with(_dots, sequence(0, {n}), (d, i) -> "
    "if(d >= 0D, shiftleft(1, i), 0)), 0, (a, x) -> a + x)"
).format(n=N_PLANES - 1)

# probe buckets = own bucket + all 1- and 2-bit flips among the
# ``probes`` lowest-|projection| planes (classic multi-probe LSH: the
# near-margin bits are the likeliest to differ for a true neighbor, and
# the size-≤2 perturbation subsets cover the overwhelming mass of the
# neighbor-bucket distribution). 1 + m + C(m,2) buckets for m probes.
_PROBES_FROM_DOTS = (
    "concat(array(_bucket), "
    "transform(_lowbits, i -> _bucket ^ shiftleft(1, i)), "
    "flatten(transform(_lowbits, (i, ii) -> "
    "transform(slice(_lowbits, ii + 2, {probes}), "
    "j -> _bucket ^ shiftleft(1, i) ^ shiftleft(1, j)))))"
)

_LOWBITS_FROM_DOTS = (
    "slice(transform(array_sort(zip_with(_dots, sequence(0, {n}), "
    "(d, i) -> struct(abs(d) AS m, i AS i))), s -> s.i), 1, {probes})"
)


def lsh_bucket_col(vec_col: str = "v") -> F.Column:
    """Sign-bit signature of the random-hyperplane projections."""
    planes = _hyperplanes()
    bits = []
    for i, p in enumerate(planes):
        arr = "array(" + ", ".join(f"{x!r}D" for x in p) + ")"
        dot = f"aggregate(zip_with({vec_col}, {arr}, (x, y) -> x * y), 0D, (a, x) -> a + x)"
        bits.append(f"(CASE WHEN {dot} >= 0 THEN shiftleft(1, {i}) ELSE 0 END)")
    return F.expr(" + ".join(bits)).alias("bucket")


def ann_lsh_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 1, probes: int = 0
) -> DataFrame:
    """Approximate top-k: exact re-rank within shared LSH bucket.

    ``probes`` > 0 enables multi-probe: each query additionally searches
    the buckets reached by flipping its ``probes`` lowest-margin sign
    bits — candidate volume grows ~(probes+1)× while the corpus still
    hashes each row to exactly ONE bucket and never re-shuffles, so the
    query side (broadcast, exploded) pays the whole widening cost.
    Recall is measured against ``cosine_topk`` in tests.
    """
    q = _with_vec(queries).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("va"),
        F.expr(_plane_dots_expr("v")).alias("_dots"),
    ).withColumn("_bucket", F.expr(_BUCKET_FROM_DOTS))
    if probes > 0:
        q = q.withColumn(
            "_lowbits",
            F.expr(_LOWBITS_FROM_DOTS.format(n=N_PLANES - 1, probes=probes)),
        ).select(
            "qid",
            "va",
            F.explode(
                F.expr(_PROBES_FROM_DOTS.format(probes=probes))
            ).alias("bucket"),
        )
    else:
        q = q.select("qid", "va", F.col("_bucket").alias("bucket"))
    c = _with_vec(corpus, "vb").select(
        F.col("vec_id").alias("nid"),
        "vb",
        lsh_bucket_col("vb"),
        F.sqrt(F.expr("aggregate(vb, 0D, (a, x) -> a + x * x)")).alias("cnorm"),
    )
    qn = q.withColumn(
        "qnorm", F.sqrt(F.expr("aggregate(va, 0D, (a, x) -> a + x * x)"))
    )
    # exact cosine re-rank (same metric as cosine_topk / the exact oracle
    # — a bucket that contains the true top-1 therefore returns it)
    pairs = (
        c.join(F.broadcast(qn), ["bucket"])
        .where(F.col("qid") != F.col("nid"))
        .select(
            "qid", "nid", (F.expr(_DOT) / (F.col("qnorm") * F.col("cnorm"))).alias("sim")
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return pairs.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


def _ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_top1(spark, sf_dir)


def _knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_label(spark, sf_dir)


def _ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    return (
        ann_lsh_topk(emb.where("vec_id < 50"), emb, k=1, probes=2)
        .select("qid", "nid", F.round("sim", 4).alias("s"))
        .orderBy("qid")
    )


def _lsh_oracle_sql(probes: int = 2) -> str:
    """Closed-form DuckDB replay of the multi-probe LSH pipeline.

    The hyperplanes are seed-fixed floats, so bucket assignment, the
    lowest-|projection| probe bits, and the exact re-rank are all
    deterministic — the same treatment _simhash_oracle_sql gives the
    md5-fold (dedup.py).  Both engines evaluate identical double
    dot-products (list_dot_product vs aggregate/zip_with fold — the
    bit-comparability contract already proven by ANN_TOP1_ORACLE), so
    sign bits and margin ordering agree exactly.
    """
    planes = _hyperplanes()
    arrs = [
        "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]" for p in planes
    ]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, {arrs[i]}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(N_PLANES)
    )
    margins = ", ".join(
        f"struct_pack(m := abs(list_dot_product(v, {arrs[i]})), i := {i})"
        for i in range(N_PLANES)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
cb AS (SELECT vec_id nid, v vb, ({bucket})::INT bucket FROM e),
qb AS (
  SELECT vec_id qid, v va, ({bucket})::INT bucket,
         list_sort([{margins}]) ms
  FROM e WHERE vec_id < 50),
pr AS (
  SELECT qid, va, unnest([bucket,
           xor(bucket, 1 << ms[1].i),
           xor(bucket, 1 << ms[2].i),
           xor(xor(bucket, 1 << ms[1].i), 1 << ms[2].i)]) bucket
  FROM qb),
p AS (
  SELECT qid, nid,
         list_dot_product(va, vb) /
           (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))) sim
  FROM pr JOIN cb USING (bucket) WHERE qid <> nid)
SELECT qid, nid, round(sim, 4) s
FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) rn FROM p)
WHERE rn = 1 ORDER BY qid
"""


registry.register("x_ann_top1", _ann, ANN_TOP1_ORACLE)
registry.register("x_knn_label", _knn, KNN_ORACLE)
# Approximate by design, but deterministic end-to-end: the oracle
# replays the declared pipeline (same planes, same probes, same rerank);
# recall vs exact top-1 is asserted separately in tests.
registry.register("x_ann_lsh_top1", _ann_lsh, _lsh_oracle_sql())


# ------------------------------------------- int8 quantized scan path

def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization: q = round(v/scale),
    scale = max|v|/127.  4x less scan bandwidth — at 100 TB the
    embedding scan is memory-bound, so this is the cheap 4x.
    JVM expressions only (tinyint arrays + a float scale).

    All-zero vectors get scale=0 and an all-zero q (the divisor is
    guarded) — without the guard 0/0 yields NaN which ANSI mode turns
    into a cast error, silently corrupting the shortlist."""
    return emb.select(
        "vec_id",
        "label",
        "embedding",
        F.expr(
            "aggregate(embedding, cast(0 as float), (m, x) -> greatest(m, abs(x))) / 127.0"
        ).alias("scale"),
    ).select(
        "vec_id",
        "label",
        "scale",
        F.expr(
            "transform(embedding, x -> cast(round(x / if(scale = 0.0, 1.0, scale)) as tinyint))"
        ).alias("q"),
    )


def quantized_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 1, shortlist: int = 32
) -> DataFrame:
    """Two-stage ANN: int8 dot-product shortlist, exact float re-rank.

    Stage 1 scans only (q, scale) — integer multiply-accumulate per
    pair; stage 2 recomputes exact cosine for ``shortlist`` candidates
    per query.  Recall vs exact top-k is measured in tests.
    """
    qq = quantize_embeddings(queries).select(
        F.col("vec_id").alias("qid"), F.col("scale").alias("sa"), F.col("q").alias("qa")
    )
    qc = quantize_embeddings(corpus).select(
        F.col("vec_id").alias("nid"), F.col("scale").alias("sb"), F.col("q").alias("qb")
    )
    approx = (
        qc.join(F.broadcast(qq), F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            (
                F.col("sa") * F.col("sb")
                * F.expr(
                    "aggregate(zip_with(qa, qb, (x, y) -> cast(x as int) * cast(y as int)), 0, (a, x) -> a + x)"
                )
            ).alias("adot"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("adot").desc(), F.col("nid"))
    cand = approx.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= shortlist
    ).select("qid", "nid")
    exact = cosine_pairs(queries, corpus).join(cand, ["qid", "nid"])
    w2 = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return exact.withColumn("rn", F.row_number().over(w2)).where(F.col("rn") <= k)


def _ann_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    return (
        quantized_topk(emb.where("vec_id < 50"), emb, k=1, shortlist=32)
        .select("qid", "nid", F.round("sim", 4).alias("s"))
        .orderBy("qid")
    )


# shares the exact oracle: the shortlist captures the true top-1 on the
# (deterministic) fixtures — measured recall 1.0 at sf0.01/sf0.001 —
# and the re-rank stage recomputes the exact double cosine.
registry.register("x_ann_quantized", _ann_quant, ANN_TOP1_ORACLE)


# ------------------------------------------------- IVF (inverted file)

IVF_CENTROID_MOD = 32  # centroids = corpus rows with vec_id % 32 == 0
IVF_NPROBE = 4

def _ivf_assign(side: DataFrame, centroids: DataFrame, n_cells: int) -> DataFrame:
    """(vec_id, v, cell, rn): nearest-centroid ranks by spherical
    (cosine) distance; deterministic ties by centroid id.  The centroid
    table is tiny and broadcast — assignment is a map-only stage, the
    corpus never shuffles to get its cell.  Norms hoisted per side (the
    per-(row×centroid) select computes only the dot)."""
    s = side.withColumn(
        "_sn", F.sqrt(F.expr("aggregate(va, 0D, (a, x) -> a + x * x)"))
    )
    c = centroids.withColumn(
        "_cn", F.sqrt(F.expr("aggregate(vc, 0D, (a, x) -> a + x * x)"))
    )
    sim = s.join(F.broadcast(c), F.lit(True)).select(
        "vec_id",
        "va",
        "cid",
        (
            F.expr("aggregate(zip_with(va, vc, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
            / (F.col("_sn") * F.col("_cn"))
        ).alias("csim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cid"))
    return sim.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= n_cells)


def ivf_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 1, nprobe: int = IVF_NPROBE
) -> DataFrame:
    """IVF-flat ANN: corpus rows live in their nearest-centroid cell;
    each query probes its ``nprobe`` nearest cells and exact-reranks
    only those cells' members.

    Centroids are a deterministic corpus sample (``vec_id % 32 == 0``) —
    the standard IVF baseline when a trained coarse quantizer isn't
    warranted; swap in k-means centroids without touching the plan
    shape.  At 100 TB: assignment is map-only (broadcast centroids),
    candidates shuffle once on cell id, candidate volume is
    ``corpus * nprobe / n_cells``.  Fully deterministic, so the driver
    oracle replays the exact same assignment in SQL.
    """
    cent = _with_vec(corpus, "vc").select(
        F.col("vec_id").alias("cid"), "vc"
    ).where(F.col("cid") % IVF_CENTROID_MOD == 0)
    c_assign = (
        _ivf_assign(
            _with_vec(corpus, "va"), cent, 1
        ).select(F.col("vec_id").alias("nid"), F.col("va").alias("vb"), F.col("cid").alias("cell"))
    )
    q_probe = _ivf_assign(
        _with_vec(queries, "va"), cent, nprobe
    ).select(F.col("vec_id").alias("qid"), "va", F.col("cid").alias("cell"))
    pairs = (
        c_assign.join(F.broadcast(q_probe), ["cell"])
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid", F.expr(_DOT).alias("sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return pairs.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


def _ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    return (
        ivf_topk(emb.where("vec_id < 50"), emb, k=1)
        .select("qid", "nid", F.round("sim", 4).alias("s"))
        .orderBy("qid")
    )


_IVF_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)

# Replays the deterministic IVF pipeline (same centroids, same argmax,
# same probes, same rerank) rather than brute force: IVF is approximate
# by construction, so ground truth for the *operator* is its own
# declared semantics; recall vs exact top-1 is asserted in tests.
ANN_IVF_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
c AS (SELECT vec_id cid, v vc FROM e WHERE vec_id % {IVF_CENTROID_MOD} = 0),
ca AS (
  SELECT vec_id nid, v vb, cid cell FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_IVF_COS.format(a='e.v', b='c.vc')} DESC, c.cid) rn
    FROM e, c) WHERE rn = 1
),
qp AS (
  SELECT vec_id qid, v va, cid cell FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_IVF_COS.format(a='e.v', b='c.vc')} DESC, c.cid) rn
    FROM e, c WHERE e.vec_id < 50) WHERE rn <= {IVF_NPROBE}
),
p AS (
  SELECT qid, nid, {_IVF_COS.format(a='va', b='vb')} sim
  FROM qp JOIN ca USING (cell) WHERE qid <> nid
)
SELECT qid, nid, round(sim, 4) s
FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) rn FROM p)
WHERE rn = 1 ORDER BY qid
"""

registry.register("x_ann_ivf", _ann_ivf, ANN_IVF_ORACLE)


# ------------------------------------------------- product quantization

# PQ-ADC ANN (Jégou et al., "Product quantization for nearest neighbor
# search", TPAMI 2011; the scan half of FAISS's IVFPQ — IVF above is the
# other half).  M=8 subspaces x 8 dims, K=64 codes per subspace: each
# database vector compresses to 8 six-bit codes; a query scans the code
# table with an 8x64 distance table (ADC) and exact-re-ranks a shortlist.
# Codebooks: md5-order seeds refined by ONE Lloyd iteration with
# integer (floor-mean) centroids — training stays inside the
# cross-engine-exact integer contract.  Measured top-1 recall on the
# isotropic fixture (PQ's worst case): 1.0 trained, vs 0.69 seeded at
# K=64 (0.44 at K=16, 0.56 at K=32 — codebook-size knob).
#
# Cross-engine exactness: coordinates are int-quantized (KM_SCALE grid),
# so every distance — codebook assignment, ADC entries, exact re-rank —
# is INTEGER arithmetic; ties break toward the lower code / vec_id in
# both engines.  The codebook is data-derived but deterministic: the K
# vectors first in (md5(vec_id), vec_id) order, the same seeding
# convention as curation.kmeans_assign.

PQ_M = 8  # subspaces
PQ_SUB = 8  # dims per subspace
PQ_K = 64  # codes per subspace (6-bit codes; K=256 is the production norm)
PQ_SHORTLIST = 50
PQ_NQ = 16  # queries: vec_id < 16

_PQ_SPARK_QUANT = "transform(embedding, x -> cast(round(cast(x as double) * 1000, 0) as bigint))"
_PQ_DUCK_QUANT = "list_transform(embedding, x -> round(x::DOUBLE * 1000, 0)::BIGINT)"


def _pq_assign_block(sqdist_fn, cb_name: str, from_name: str = "sub") -> str:
    """Nearest-code assignment (argmin with (dist, code) tie-break) —
    ONE template used for both the training pass (vs cb0) and the final
    encoding (vs the trained cb), so their semantics cannot diverge.

    The argmin is a keyed ``min()`` over the integer ``dist * K + code``
    (code < K, so the low digits ARE the tie-break) — a partial-agg
    combine instead of the round-7 ``row_number`` window, which sorted
    the full N*M*K candidate set per pass (measured round 9: the two
    passes dropped ~2 s at sf0.1 for identical output)."""
    d = sqdist_fn("s.sub", "c.sub", PQ_SUB)
    return f"""SELECT s.vec_id, s.m,
         cast(min(({d}) * {PQ_K} + c.code) % {PQ_K} AS bigint) AS code
  FROM {from_name} s JOIN {cb_name} c ON c.m = s.m
  GROUP BY s.vec_id, s.m"""


def _pq_sql(quant: str, md5_id: str, slice_fn, sqdist_fn, idx_fn, arr_fn) -> str:
    ms = ", ".join(f"({m})" for m in range(PQ_M))
    # trained centroid coordinate j: floor(mean) over the assigned
    # members' j-th coordinates — integer result, identical on both
    # engines (int sums exact; the one double division is correctly
    # rounded from identical operands; floor identical).
    cent_coords = ", ".join(
        f"cast(floor(sum({idx_fn('s.sub', j)}) / count(*)) as bigint)"
        for j in range(1, PQ_SUB + 1)
    )
    return f"""
WITH v AS (SELECT vec_id, {quant} AS q FROM embeddings),
seeds AS (
  SELECT q, row_number() OVER (ORDER BY {md5_id}, vec_id) - 1 AS code FROM v
),
mm AS (SELECT * FROM (VALUES {ms}) AS t(m)),
cb0 AS (
  SELECT mm.m, s.code, {slice_fn('s.q', 'mm.m')} AS sub
  FROM seeds s CROSS JOIN mm WHERE s.code < {PQ_K}
),
sub AS (
  SELECT v.vec_id, mm.m, {slice_fn('v.q', 'mm.m')} AS sub
  FROM v CROSS JOIN mm
),
codes0 AS (
  {_pq_assign_block(sqdist_fn, 'cb0')}
),
cb AS (
  SELECT mem.m, mem.code, {arr_fn(cent_coords)} AS sub
  FROM codes0 mem JOIN sub s ON s.vec_id = mem.vec_id AND s.m = mem.m
  GROUP BY mem.m, mem.code
),
codes AS (
  {_pq_assign_block(sqdist_fn, 'cb')}
),
dtab AS (
  SELECT q.vec_id AS qid, c.m, c.code, {sqdist_fn('q.sub', 'c.sub', PQ_SUB)} AS d
  FROM sub q JOIN cb c ON c.m = q.m
  WHERE q.vec_id < {PQ_NQ}
),
adc AS (
  SELECT t.qid, co.vec_id, sum(t.d) AS adc_dist
  FROM codes co
  JOIN dtab t ON t.m = co.m AND t.code = co.code
  WHERE co.vec_id <> t.qid
  GROUP BY t.qid, co.vec_id
),
short AS (
  SELECT qid, vec_id, adc_dist FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) rn
    FROM adc
  ) WHERE rn <= {PQ_SHORTLIST}
),
ex AS (
  SELECT s.qid, s.vec_id, s.adc_dist,
         {sqdist_fn('vq.q', 'vv.q', PQ_M * PQ_SUB)} AS exact_dist
  FROM short s
  JOIN v vq ON vq.vec_id = s.qid
  JOIN v vv ON vv.vec_id = s.vec_id
)
SELECT qid, vec_id AS nn_id,
       cast(exact_dist as bigint) AS exact_dist,
       cast(adc_dist as bigint) AS adc_dist
FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY exact_dist, vec_id) rn FROM ex)
WHERE rn = 1 ORDER BY qid
"""


def _pq_spark_slice(arr: str, m: str) -> str:
    return f"slice({arr}, {m} * {PQ_SUB} + 1, {PQ_SUB})"


def _pq_duck_slice(arr: str, m: str) -> str:
    return f"list_slice({arr}, {m} * {PQ_SUB} + 1, {m} * {PQ_SUB} + {PQ_SUB})"


# Squared L2 as an EXPANDED sum of per-coordinate terms, not a
# higher-order lambda: the round-7 aggregate(zip_with(...)) form
# interpreted ~2M 8-dim lambdas per assign pass outside codegen —
# the expansion keeps the whole distance inside the codegen'd
# projection (measured round 9: 3.5 → 1.4 s warm at sf0.1, identical
# integer results; the n=64 exact-re-rank expansion touches only
# NQ * SHORTLIST rows).


def _pq_spark_sqdist(a: str, b: str, n: int) -> str:
    return "(" + " + ".join(
        f"(element_at({a}, {j}) - element_at({b}, {j}))"
        f" * (element_at({a}, {j}) - element_at({b}, {j}))"
        for j in range(1, n + 1)
    ) + ")"


def _pq_duck_sqdist(a: str, b: str, n: int) -> str:
    return "(" + " + ".join(
        f"({a}[{j}] - {b}[{j}]) * ({a}[{j}] - {b}[{j}])"
        for j in range(1, n + 1)
    ) + ")"


def _pq_spark_idx(arr: str, j: int) -> str:
    return f"element_at({arr}, {j})"


def _pq_duck_idx(arr: str, j: int) -> str:
    return f"{arr}[{j}]"


def _pq_spark_arr(items: str) -> str:
    return f"array({items})"


def _pq_duck_arr(items: str) -> str:
    return f"[{items}]"


def pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-1 with exact re-rank over the shortlist.

    100 TB shape: the code table is PQ_M small ints per database vector
    (~40x compression of the scan); the ADC join streams it against a
    per-query PQ_M x PQ_K distance table (broadcast), shuffling nothing wider
    than (qid, vec_id, dist); exact re-rank touches SHORTLIST vectors
    per query.  Codebook training = seed scan + one Lloyd pass whose
    centroid update is a (m, code)-keyed aggregation (output bounded
    by M*K, never corpus-sized); more iterations repeat the same
    bounded shape at scale.

    Round 14: the Spark side STAGES the multiply-referenced
    intermediates (quantized vectors, subspace slices, trained
    codebook) behind lazy checkpoints, passed to each statement as
    ``spark.sql`` frame parameters — Spark inlines repeated CTE
    references, and the one-text plan scanned embeddings 10 times
    (quantization + slicing re-run per reference).  Every expression
    string still comes from the shared fragment builders, and the
    DuckDB oracle keeps the original single-text form, so the contract
    is unchanged (output oracle-checked at all three scales).
    """
    catalog.register(spark, sf_dir)
    ms = ", ".join(f"({m})" for m in range(PQ_M))
    slice_fn, sqdist_fn, idx_fn, arr_fn = (
        _pq_spark_slice, _pq_spark_sqdist, _pq_spark_idx, _pq_spark_arr,
    )
    v = spark.sql(
        f"SELECT vec_id, {_PQ_SPARK_QUANT} AS q FROM embeddings"
    ).localCheckpoint(eager=False)
    sub = spark.sql(
        f"""SELECT v.vec_id, mm.m, {slice_fn('v.q', 'mm.m')} AS sub
  FROM {{v}} v CROSS JOIN (SELECT * FROM (VALUES {ms}) AS t(m)) mm""",
        v=v,
    ).localCheckpoint(eager=False)
    cb0 = (
        f"""(SELECT mm.m, s.code, {slice_fn('s.q', 'mm.m')} AS sub
  FROM (SELECT q, row_number() OVER (ORDER BY md5(cast(vec_id as string)), vec_id) - 1 AS code
        FROM {{v}}) s
  CROSS JOIN (SELECT * FROM (VALUES {ms}) AS t(m)) mm
  WHERE s.code < {PQ_K})"""
    )
    cent_coords = ", ".join(
        f"cast(floor(sum({idx_fn('s.sub', j)}) / count(*)) as bigint)"
        for j in range(1, PQ_SUB + 1)
    )
    cb = spark.sql(
        f"""WITH codes0 AS (
  {_pq_assign_block(sqdist_fn, cb0, from_name="{sub}")}
)
SELECT mem.m, mem.code, {arr_fn(cent_coords)} AS sub
FROM codes0 mem JOIN {{sub}} s ON s.vec_id = mem.vec_id AND s.m = mem.m
GROUP BY mem.m, mem.code""",
        v=v, sub=sub,
    ).localCheckpoint(eager=False)
    return spark.sql(
        f"""WITH codes AS (
  {_pq_assign_block(sqdist_fn, "{cb}", from_name="{sub}")}
),
dtab AS (
  SELECT q.vec_id AS qid, c.m, c.code, {sqdist_fn('q.sub', 'c.sub', PQ_SUB)} AS d
  FROM {{sub}} q JOIN {{cb}} c ON c.m = q.m
  WHERE q.vec_id < {PQ_NQ}
),
adc AS (
  SELECT t.qid, co.vec_id, sum(t.d) AS adc_dist
  FROM codes co
  JOIN dtab t ON t.m = co.m AND t.code = co.code
  WHERE co.vec_id <> t.qid
  GROUP BY t.qid, co.vec_id
),
short AS (
  SELECT qid, vec_id, adc_dist FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) rn
    FROM adc
  ) WHERE rn <= {PQ_SHORTLIST}
),
ex AS (
  SELECT s.qid, s.vec_id, s.adc_dist,
         {sqdist_fn('vq.q', 'vv.q', PQ_M * PQ_SUB)} AS exact_dist
  FROM short s
  JOIN {{v}} vq ON vq.vec_id = s.qid
  JOIN {{v}} vv ON vv.vec_id = s.vec_id
)
SELECT qid, vec_id AS nn_id,
       cast(exact_dist as bigint) AS exact_dist,
       cast(adc_dist as bigint) AS adc_dist
FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY exact_dist, vec_id) rn FROM ex)
WHERE rn = 1 ORDER BY qid""",
        v=v, sub=sub, cb=cb,
    )


PQ_ORACLE = _pq_sql(
    _PQ_DUCK_QUANT, "md5(vec_id::VARCHAR)",
    _pq_duck_slice, _pq_duck_sqdist, _pq_duck_idx, _pq_duck_arr,
)

registry.register("x_ann_pq", pq_ann, PQ_ORACLE)
