"""End-to-end corpus-cleaning pipeline (the 100 TB training-data story
all extension ops exist for): exact-dedup → quality filter → lang-ID
annotate — one declarative DataFrame chain, each stage an operator from
this package, with a portable oracle for the whole composition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..session import ship_package
from . import registry
from .text import N_ALPHA, N_TOKENS, lang_id_expr


def clean_corpus(docs: DataFrame, min_tokens: int = 20, min_avg_len: float = 3.0) -> DataFrame:
    """Dedup (deterministic survivor) → quality gate → lang annotate."""
    # not a module-level import: dedup's module body reads _DUCK_BUCKET
    # from here, so importing this module first (as a worker unpickling
    # pack_batches does) would be circular
    from .dedup import drop_exact_duplicates

    deduped = drop_exact_duplicates(docs)
    quality = deduped.where(
        F.expr(f"{N_TOKENS} >= {min_tokens}")
        & F.expr(f"cast({N_ALPHA} as double) / {N_TOKENS} >= {min_avg_len}")
    )
    return quality.withColumn("pred_lang", F.expr(lang_id_expr()))


def pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving-docs summary per predicted language."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    out = clean_corpus(docs)
    return (
        out.groupBy("pred_lang")
        .agg(F.count("*").alias("n_docs"), F.sum(F.expr(N_TOKENS)).alias("n_tokens"))
        .orderBy("pred_lang")
    )


# Oracle: same composition relationally.  Exact dedup keeps the min
# doc_id per text — for counting purposes equivalent to DISTINCT ON
# text; quality + lang expressions are the shared portable fragments.
PIPELINE_ORACLE = f"""
WITH dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) rn
    FROM documents) t WHERE rn = 1
),
quality AS (
  SELECT *, {lang_id_expr()} AS pred_lang FROM dedup
  WHERE {N_TOKENS} >= 20 AND cast({N_ALPHA} as double) / {N_TOKENS} >= 3.0
)
SELECT pred_lang, count(*) n_docs, cast(sum({N_TOKENS}) as bigint) n_tokens
FROM quality GROUP BY pred_lang ORDER BY pred_lang
"""


registry.register("x_pipeline_clean", pipeline_summary, PIPELINE_ORACLE)


# ------------------------------------------------ deterministic sampling

_SPARK_BUCKET = (
    "cast(conv(substring(md5(concat(cast(doc_id as string), '{salt}')), 1, 8),"
    " 16, 10) as bigint) % 100"
)

# DuckDB lacks hex→int casts; fold the 8 nibbles (same trick as the
# SimHash oracle).  Both engines hash the identical decimal string, so
# the buckets agree bit-for-bit.
_DUCK_BUCKET = (
    "list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 9), "
    "i -> (strpos('0123456789abcdef', "
    "substring(md5(doc_id::VARCHAR || '{salt}'), i, 1)) - 1)::BIGINT)), "
    "(a, x) -> a * 16 + x) % 100"
)


def hash_sample(docs: DataFrame, pct: int = 10, salt: str = "") -> DataFrame:
    """Reproducible content-stable sample: md5-bucket the key, keep
    buckets < pct.  The training-data curation primitive Spark's
    ``TABLESAMPLE``/``sample()`` cannot give you — those are
    partition-dependent, so reruns and engines disagree; a key hash is
    stable across engines, partitionings and reruns, and ``salt``
    yields disjoint resamples.  Map-only (no shuffle): the predicate
    rides the scan."""
    return docs.where(F.expr(_SPARK_BUCKET.format(salt=salt)) < pct)


def _sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents")
    return hash_sample(docs, pct=10).select("doc_id", "lang").orderBy("doc_id")


SAMPLE_ORACLE = f"""
SELECT doc_id, lang
FROM (SELECT doc_id, lang, {_DUCK_BUCKET.format(salt="")} AS bucket FROM documents)
WHERE bucket < 10 ORDER BY doc_id
"""


registry.register("x_sample_hash", _sample, SAMPLE_ORACLE)


# -------------------------------------------- weighted sampling (E-S)

_ES_KEY_SPARK = (
    "ln(cast(conv(substring(md5(concat(cast(doc_id as string), '{salt}')), 1, 13),"
    " 16, 10) as double) / 4503599627370496.0) / {w}"
)
_ES_KEY_DUCK = (
    "ln(list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 14), "
    "i -> (strpos('0123456789abcdef', "
    "substring(md5(doc_id::VARCHAR || '{salt}'), i, 1)) - 1)::BIGINT)), "
    "(a, x) -> a * 16 + x) / 4503599627370496.0) / {w}"
)


def weighted_sample(docs: DataFrame, k: int = 20, weight: str = "n_chars",
                    salt: str = "") -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis, "Weighted random sampling with a reservoir",
    IPL 2006): priority = u^(1/w) with u = the doc's md5-uniform;
    take the k largest — equivalently the k largest ln(u)/w.

    Spark's physical plan is TakeOrderedAndProject (per-partition top-k,
    merge of k-element heaps) — scale-safe with no global sort.  The
    selected SET is cross-engine stable: JVM ``Math.log`` and libm
    ``ln`` differ by <=2 ulp (~1e-16 relative), while selection-boundary
    key gaps on real data are ~1e-3 relative (asserted in tests), so
    only doc identities (never key values) are exposed.
    """
    key = _ES_KEY_SPARK.format(salt=salt, w=weight)
    return (
        docs.select("doc_id", weight, F.expr(key).alias("_k"))
        .orderBy(F.col("_k").desc(), "doc_id")
        .limit(k)
        .drop("_k")
    )


def _wsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, k=20).orderBy("doc_id")


WSAMPLE_ORACLE = f"""
SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars, {_ES_KEY_DUCK.format(salt="", w="n_chars")} AS k
  FROM documents ORDER BY k DESC, doc_id LIMIT 20) t
ORDER BY doc_id
"""

registry.register("x_sample_weighted", _wsample, WSAMPLE_ORACLE)


# ------------------------------------------------ token-budget packing

def _pack_shard(pdf, budget: int):
    """One shard's greedy token-budget scan for ``pack_batches``."""
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    acc, b, out = 0, 0, []
    for tok in pdf["tok"]:
        if acc and acc + tok > budget:
            b, acc = b + 1, 0
        acc += int(tok)
        out.append(b)
    pdf["batch_id"] = out
    return pdf[["doc_id", "shard", "tok", "batch_id"]]


def pack_batches(docs: DataFrame, budget: int = 2000, shards: int = 8) -> DataFrame:
    """Greedy token-budget sequence packing: within each shard (hash of
    the key — the parallelism unit), docs are taken in doc_id order and
    appended to the current batch until the budget would overflow, which
    starts the next batch.  The classic training-batch assembly step.

    A running greedy reset is inherently a stateful scan — not
    expressible with window functions — so this is the documented
    applyInPandas case (task brief: custom operator tier (b)).  State is
    two scalars per shard; each shard's scan is linear and shards give
    the parallelism, so at 100 TB you size ``shards`` to the cluster,
    not the data.  Output: (doc_id, shard, tok, batch_id).
    """
    ship_package(docs.sparkSession)
    d = docs.select(
        "doc_id",
        F.expr(N_TOKENS).cast("long").alias("tok"),
        (F.col("doc_id") % shards).alias("shard"),
    )

    def pack(pdf):
        return _pack_shard(pdf, budget)

    return d.groupBy("shard").applyInPandas(
        pack, "doc_id long, tok long, shard long, batch_id long"
    )


def _pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents")
    return (
        pack_batches(docs)
        .groupBy("shard", "batch_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").alias("n_tokens"),
        )
        .orderBy("shard", "batch_id")
    )


# The greedy reset is a linear recurrence — rendered in DuckDB as a
# recursive CTE stepping one row per shard per iteration (bounded by
# max rows-per-shard; fine at oracle scale).
PACK_ORACLE = f"""
WITH RECURSIVE d AS (
  SELECT doc_id, doc_id % 8 AS shard, cast({N_TOKENS} as bigint) AS tok,
         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) rn
  FROM documents),
packed AS (
  SELECT shard, rn, doc_id, tok, 0::BIGINT AS batch_id, tok AS acc
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.shard, d.rn, d.doc_id, d.tok,
         CASE WHEN p.acc + d.tok > 2000 THEN p.batch_id + 1 ELSE p.batch_id END,
         CASE WHEN p.acc + d.tok > 2000 THEN d.tok ELSE p.acc + d.tok END
  FROM d JOIN packed p ON d.shard = p.shard AND d.rn = p.rn + 1)
SELECT shard, batch_id, cast(count(*) as bigint) n_docs, cast(sum(tok) as bigint) n_tokens
FROM packed GROUP BY shard, batch_id ORDER BY shard, batch_id
"""


registry.register("x_pack_batches", _pack, PACK_ORACLE)


# --------------------------------------------- stratified hash sampling

def stratified_sample(
    docs: DataFrame,
    stratum_col: str = "lang",
    rates: dict[str, int] | None = None,
    default_pct: int = 10,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling — the data-mixture knob of a
    training pipeline (e.g. keep 20% of English, 5% of zh, 10% of the
    rest).  Same md5-bucket predicate as ``hash_sample`` with a
    per-stratum threshold, so it stays map-only (no shuffle, rides the
    scan), content-stable across reruns/engines/partitionings, and
    strata stay mutually consistent: a doc kept at 5% is also kept at
    any higher rate (nested samples — threshold monotonicity)."""
    rates = rates or {}
    arms = " ".join(
        f"WHEN {stratum_col} = '{s}' THEN {p}" for s, p in sorted(rates.items())
    )
    rate = f"CASE {arms} ELSE {default_pct} END" if arms else str(default_pct)
    return docs.where(F.expr(f"{_SPARK_BUCKET.format(salt=salt)} < ({rate})"))


def _stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents")
    out = stratified_sample(docs, rates={"en": 20, "zh": 5}, default_pct=10)
    return (
        out.groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang")
    )


STRATIFIED_ORACLE = f"""
SELECT lang, count(*) n_docs
FROM (SELECT lang, {_DUCK_BUCKET.format(salt="")} AS bucket FROM documents)
WHERE bucket < (CASE WHEN lang = 'en' THEN 20 WHEN lang = 'zh' THEN 5 ELSE 10 END)
GROUP BY lang ORDER BY lang
"""

registry.register("x_sample_stratified", _stratified, STRATIFIED_ORACLE)


# ------------------------------------------------- document chunking

CHUNK_SIZE = 40
CHUNK_STRIDE = 30  # size 40, overlap 10


def chunk_documents(
    docs: DataFrame, size: int = CHUNK_SIZE, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap —
    the context-window preparation step of a training pipeline.  Pure
    Catalyst: tokenize once (split + filter empties), explode a
    ``sequence`` of window starts, slice the token array per chunk.
    One generator, no shuffle, no Python — at 100 TB this pipelines
    into the scan exactly like any projection.

    Output: (doc_id, chunk_id, n_chunk_tokens, chunk_text)."""
    return (
        docs.select(
            "doc_id",
            F.expr("filter(split(lower(text), '\\\\s+'), x -> x != '')").alias("_toks"),
        )
        .where(F.expr("size(_toks) > 0"))
        .select(
            "doc_id",
            F.expr(f"explode(sequence(0, size(_toks) - 1, {stride}))").alias("_start"),
            "_toks",
        )
        .select(
            "doc_id",
            (F.col("_start") / stride).cast("long").alias("chunk_id"),
            F.expr(f"slice(_toks, _start + 1, {size})").alias("_chunk"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.expr("size(_chunk)").cast("long").alias("n_chunk_tokens"),
            F.expr("array_join(_chunk, ' ')").alias("chunk_text"),
        )
    )


def _chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents").where("doc_id < 200")
    return (
        chunk_documents(docs)
        .select("doc_id", "chunk_id", "n_chunk_tokens", F.md5("chunk_text").alias("fp"))
        .orderBy("doc_id", "chunk_id")
    )


# DuckDB replay: same tokenization (regex split, empties dropped),
# window starts via range(0, n, stride), 1-based inclusive list slice.
CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') toks
  FROM documents WHERE doc_id < 200),
s AS (
  SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), {CHUNK_STRIDE})) st
  FROM t WHERE len(toks) > 0)
SELECT doc_id, (st // {CHUNK_STRIDE})::BIGINT chunk_id,
       len(toks[st + 1 : least(st + {CHUNK_SIZE}, len(toks))])::BIGINT n_chunk_tokens,
       md5(array_to_string(toks[st + 1 : least(st + {CHUNK_SIZE}, len(toks))], ' ')) fp
FROM s ORDER BY doc_id, chunk_id
"""

registry.register("x_doc_chunks", _chunks, CHUNK_ORACLE)
