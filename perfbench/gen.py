"""Seeded input generators for the benchmark.

The program under test sees only the parquet files written here.

- ``write_base``: the ten canonical tables at sf0.1 (the schemas of
  FIXTURES.md), one file and one row group each, from a fixed seed.
  Every workload starts from this set.
- ``write_replica``: the base tables, each split into ``files``
  parquet files.  The seed shuffles rows across the files; the values,
  and therefore the reference results, are the same for every seed.
- ``stream_frames``: replay chunks of a seeded slice of ``events`` with
  in-chunk disorder, and a planted set of late rows.
- ``permute``: the seeded op order of a pass.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
SF = 0.1

VOCAB = (
    "a the data spark stream table column row key value query scan join hash"
    " sort merge filter group agg window order part line customer vector batch"
    " fast slow big small index"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
EMB_DIM = 64


def _days(rng, n, start, end):
    """``n`` random midnight timestamps in [start, end] (us precision)."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables() -> dict[str, pa.Table]:
    """The canonical tables at sf0.1 from the fixed base seed."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_line, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    n_doc, n_vec = int(50_000 * SF), int(20_000 * SF)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, 8, n_part)]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    # events: ms-aligned, strictly time-ordered over 30 days
    start_ms = np.datetime64("2024-01-01", "ms").astype(np.int64)
    offs = np.sort(rng.choice(30 * 86_400_000, n_ev, replace=False))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(((start_ms + offs) * 1000).astype("datetime64[us]")),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = pa.table(_documents(rng, n_doc))
    vec = rng.standard_normal((n_vec, EMB_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    return t


def _documents(rng, n: int) -> dict:
    """Bag-of-keyword documents; about one in twenty is a copy, at most
    one word changed, of an earlier long one, so the near-duplicate
    entries find real pairs."""
    texts: list[str] = []
    vocab = np.array(VOCAB)
    for i in range(n):
        src = texts[int(rng.integers(0, i))].split() if i else []
        if len(src) >= 40 and rng.random() < 0.1:
            # at most one word changed: Jaccard far above any entry's
            # threshold, so no LSH entry meets a borderline pair
            words = src
            if rng.random() < 0.5:
                words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 100)))])
        texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    }


def _write_dir_atomic(dst: str, fill) -> None:
    """Build ``dst`` in a sibling temp dir and rename it into place, so an
    interrupted build never leaves a half-written input set."""
    if os.path.isdir(dst):
        return
    tmp = f"{dst}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    fill(tmp)
    os.rename(tmp, dst)


def write_base(dst: str) -> str:
    def fill(tmp):
        for name, table in base_tables().items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                           row_group_size=max(1, table.num_rows))
    _write_dir_atomic(dst, fill)
    return dst


def write_replica(base_dir: str, dst: str, files: int, seed: int) -> str:
    """Seeded multi-file layout of the base tables: every table a
    directory of ``files`` parquet files holding a seeded shuffle of its
    rows."""
    def fill(tmp):
        rng = np.random.default_rng(seed)
        for name in sorted(os.listdir(base_dir)):
            table = pq.read_table(os.path.join(base_dir, name))
            d = os.path.join(tmp, name)
            os.makedirs(d)
            order = rng.permutation(table.num_rows)
            for i, idx in enumerate(np.array_split(order, min(files, table.num_rows))):
                pq.write_table(table.take(idx), os.path.join(d, f"part-{i:03d}.parquet"))
    _write_dir_atomic(dst, fill)
    return dst


def stream_frames(events: pa.Table, seed: int, users: int, hours: int,
                  chunks: int, late: int) -> tuple[list[pa.Table], pa.Table]:
    """Replay chunks over a seeded slice of ``events``: the rows of one
    in ``users`` user ids within a seeded, hour-aligned span of
    ``hours``.

    Rows inside a chunk are shuffled (disorder the 10-minute watermark
    absorbs, since it only advances between triggers).  ``late`` rows
    are taken out of the first chunk: of event types no pattern reads,
    each from its own hour (its own 1-hour window group) and at least
    an hour before the chunk ends.  They are returned apart, to be
    replayed after the last chunk: Spark drops input behind the
    watermark of the trigger before, so they are late from the third
    trigger on.  Timestamps are returned as UTC timestamps.
    """
    rng = np.random.default_rng(seed)
    ts = events["ts"].cast(pa.int64()).to_numpy()
    hour = 3_600_000_000
    first, last = ts.min() // hour + 1, ts.max() // hour - hours
    start = int(rng.integers(first, last)) * hour
    uid = events["user_id"].to_numpy()
    keep = ((ts >= start) & (ts < start + hours * hour)
            & (uid % users == int(rng.integers(0, users))))
    sl = events.filter(pa.array(keep))
    sl = sl.set_column(sl.schema.get_field_index("ts"), "ts",
                       sl["ts"].cast(pa.timestamp("us", tz="UTC")))
    sl_ts = sl["ts"].cast(pa.int64()).to_numpy()
    span = hours * hour // chunks
    chunk_of = np.minimum((sl_ts - start) // span, chunks - 1)
    etypes = sl["event_type"].to_numpy(zero_copy_only=False)
    cand = np.flatnonzero((sl_ts < start + span - hour) & np.isin(etypes, INERT_TYPES))
    rng.shuffle(cand)
    hours_used, late_idx = set(), []
    for i in cand:
        h = (sl_ts[i] - start) // hour
        if h not in hours_used and len(late_idx) < late:
            hours_used.add(h)
            late_idx.append(int(i))
    chunk_of[late_idx] = -1
    frames = []
    for c in range(chunks):
        idx = np.flatnonzero(chunk_of == c)
        rng.shuffle(idx)
        frames.append(sl.take(idx))
    return frames, sl.take(np.array(late_idx, dtype=np.int64))


# event types neither side of the CEP pattern reads (signup -> purchase)
INERT_TYPES = ["click", "error", "view"]


def permute(names: list[str], seed: int) -> list[str]:
    rng = np.random.default_rng(seed)
    return [names[i] for i in rng.permutation(len(names))]
