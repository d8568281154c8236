"""Scale-up harness (round 15 — VERDICT r14 next #7).

The sf0.1 fixtures are too small to resolve parallelism: every entry is
0.2–6 s and dominated by fixed job/driver overhead, so the driver's
8-core vs 32-core ratios sit at ~1 regardless of plan quality.  This
tool builds a deterministic 10x replica of sf0.1 under /tmp and times
the heavy dedup/graph/text family at two core counts so scaling is
measurable.

Replication is workload-shape-preserving, not statistics-faking:

- ``documents``: 10 copies, doc_id offset per replica, and every WORD
  salted with the replica index (a bijective token rename) — so each
  replica's internal shingle/Jaccard/MinHash structure is IDENTICAL to
  the original while cross-replica similarity drops to zero: 10x docs,
  10x true pairs, ~10x candidates (NOT a quadratic cross-replica
  explosion of exact duplicates).
- ``embeddings``: 10 copies, vec_id offset.  The declared cosine
  threshold routes to the exact blocked-GEMM scan, so the workload is
  quadratic in N by design — replica-identical vectors only change the
  result size, not the scan cost shape.
- ``events``/``lineitem``/``orders``: 10 copies with key offsets
  (event_id/user_id; orderkey/partkey/suppkey) — the co-order graph
  becomes 10 disjoint copies, so triangles/pagerank/CC see 10x the
  edges and vertices.
- dimension tables are copied unchanged.

Usage:
    python tools/scale_up.py build [/tmp/sfbig]        # ~1 min
    python tools/scale_up.py run [/tmp/sfbig]          # host core count
    SPARK_GRAFT_CPUS=4 python tools/scale_up.py run [/tmp/sfbig]

``run`` times ENTRIES through ``bench.measure`` (the bench's warm-up,
then each entry once, in name order) and prints one JSON line:
{"cpus", "sf_dir", "load_probe", "steal_s", "queries": {entry: sec}}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
K = 10  # replicas

# entries timed by `run` — the heavy dedup/graph/text family the
# VERDICT asked to demonstrate scaling on
ENTRIES = [
    "x_dedup_cosine",
    "x_dedup_jaccard",
    "x_dedup_minhash",
    "x_dedup_simhash",
    "x_semdedup",
    "x_substring_dedup",
    "x_repetition",
    "x_mad_outliers",
    "x_graph_triangles",
    "x_graph_pagerank",
    "x_kmeans",
]


def build(dst: str) -> None:
    from pyspark.sql import functions as F

    from flink_1_11_1_spark.session import get_spark

    spark = get_spark("scale-up-build")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(dst, exist_ok=True)

    def reps():
        return list(range(K))

    def write(df, name):
        df.coalesce(8).write.mode("overwrite").parquet(f"{dst}/_{name}")
        # single-file layout like the fixtures: <dst>/<table>.parquet is
        # a directory here — catalog reads either (spark.read.parquet).
        os.rename(f"{dst}/_{name}", f"{dst}/{name}.parquet")

    import shutil

    # dimension tables: straight copies
    for t in ("region", "nation", "customer", "supplier", "part"):
        srcp = f"{SRC}/{t}.parquet"
        dstp = f"{dst}/{t}.parquet"
        if os.path.isdir(srcp):
            shutil.copytree(srcp, dstp, dirs_exist_ok=True)
        else:
            shutil.copyfile(srcp, dstp)

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    n_docs = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    parts = []
    for k in reps():
        parts.append(
            docs.select(
                (F.col("doc_id") + k * n_docs).alias("doc_id"),
                F.array_join(
                    F.transform(
                        F.split(F.trim("text"), " "),
                        lambda w: F.concat(w, F.lit(f"_{k}")),
                    ),
                    " ",
                ).alias("text"),
                *[c for c in docs.columns if c not in ("doc_id", "text")],
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    write(out, "documents")

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    n_vec = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    out = emb.select((F.col("vec_id")).alias("vec_id"), "embedding")
    pieces = [
        emb.select((F.col("vec_id") + k * n_vec).alias("vec_id"), "embedding")
        for k in reps()
    ]
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    write(out, "embeddings")

    ev = spark.read.parquet(f"{SRC}/events.parquet")
    n_eid = ev.agg(F.max("event_id")).collect()[0][0] + 1
    n_uid = ev.agg(F.max("user_id")).collect()[0][0] + 1
    pieces = [
        ev.select(
            (F.col("event_id") + k * n_eid).alias("event_id"),
            (F.col("user_id") + k * n_uid).alias("user_id"),
            *[c for c in ev.columns if c not in ("event_id", "user_id")],
        )
        for k in reps()
    ]
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    write(out, "events")

    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    n_ok = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    n_pk = li.agg(F.max("l_partkey")).collect()[0][0] + 1
    n_sk = li.agg(F.max("l_suppkey")).collect()[0][0] + 1
    pieces = [
        orders.select(
            (F.col("o_orderkey") + k * n_ok).alias("o_orderkey"),
            *[c for c in orders.columns if c != "o_orderkey"],
        )
        for k in reps()
    ]
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    write(out, "orders")

    pieces = [
        li.select(
            (F.col("l_orderkey") + k * n_ok).alias("l_orderkey"),
            (F.col("l_partkey") + k * n_pk).alias("l_partkey"),
            (F.col("l_suppkey") + k * n_sk).alias("l_suppkey"),
            *[
                c
                for c in li.columns
                if c not in ("l_orderkey", "l_partkey", "l_suppkey")
            ],
        )
        for k in reps()
    ]
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    write(out, "lineitem")
    print(f"built {dst} (x{K} of {SRC})")


def run(sf_dir: str) -> None:
    import bench
    from flink_1_11_1_spark.session import cpus, get_spark

    spark = get_spark("scale-up-run")
    spark.sparkContext.setLogLevel("ERROR")
    out = bench.measure(spark, sf_dir, ENTRIES)
    print(json.dumps({"cpus": cpus(), "sf_dir": sf_dir, **out}))


if __name__ == "__main__":
    mode = sys.argv[1]
    path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfbig"
    if mode == "build":
        build(path)
    else:
        run(path)
