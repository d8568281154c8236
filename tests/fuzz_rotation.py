"""Rotating-seed subsets for the heavy fuzz corpora (round 12 —
VERDICT r11 "next" #6: the seal outgrew its 35-minute budget).

The default pytest tier (including the round seal, `pytest tests/ -q`)
runs a deterministic per-round subset of each fuzz corpus; the FULL
corpus runs with ``SPARK_GRAFT_FUZZ_FULL=1`` — which every round must
do at least once when NFA/changelog semantics were touched (the
CLAUDE.md "both slow fuzzers green" rule refers to the full corpora).

The corpus is ranked ONCE by a round-independent md5 and each round
takes the next contiguous k-slice (offset = round · k, wrapping), so
coverage is GUARANTEED: every case runs at least once every
``ceil(1/frac)`` rounds (round-12 review: an earlier per-round
independent re-sample had no such bound — a case could sit out many
consecutive seals).  Round number = count of committed
CORRECTNESS_r*.json files.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os


def rotating_subset(seeds, frac: float = 1 / 3, tag: str = ""):
    """Deterministic per-round contiguous rotation over ``seeds`` (full
    corpus when SPARK_GRAFT_FUZZ_FULL is set)."""
    seeds = list(seeds)
    if os.environ.get("SPARK_GRAFT_FUZZ_FULL") or not seeds:
        return seeds
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rnd = len(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    # ceil, not round (ADVICE r12): ceil(1/frac) consecutive k-slices
    # must cover len(seeds) — round() undershoots (40 seeds at 1/3 gave
    # k=13, 39 covered over 3 rounds).
    k = max(1, math.ceil(len(seeds) * frac))
    ranked = sorted(
        seeds,
        key=lambda s: hashlib.md5(f"{tag}:{s}".encode()).hexdigest(),
    )
    start = (rnd * k) % len(ranked)
    return (ranked + ranked)[start:start + k]
