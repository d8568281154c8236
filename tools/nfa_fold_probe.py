"""Hot-key probe for the Python NFA fold (pandas only, no Spark).

Builds a seeded single-key frame shaped like ``nfa._with_flags`` output
(``user_id``, ``event_id``, ``ts``, one ``f<i>`` flag column per state,
``v_<col>`` value columns), folds it with ``nfa._fold_events(...,
finalize=True)`` — the batch backend's per-key call — and prints ONE
JSON line: k events/s per shape (best of ``--reps`` runs).

Shapes:
- ``ab_past_last``: greedy A -> B, AFTER MATCH SKIP PAST LAST ROW;
- ``overlap_opt``: x_cep_overlap_opt's signup -> optional(value > 60)
  -> view within 48h, greedy (the default fold);
- ``overlap_opt_bt``: the same pattern ``with_backtracking()``;
- ``xvar``: click -> purchase whose value exceeds the click's, a
  cross-variable ``py_cond`` evaluated per (event, partial).

Run from the repo root::

    python tools/nfa_fold_probe.py [--events 50000] [--reps 3] [--seed 7]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_1_11_1_spark.streaming import nfa  # noqa: E402

_TYPES = ["click", "view", "purchase", "signup", "click", "view"]


def _events(n: int, seed: int) -> pd.DataFrame:
    rng = random.Random(seed)
    ts, t = [], 1_767_225_600_000  # 2026-01-01, epoch ms
    for _ in range(n):
        t += rng.randrange(0, 120_000)  # ties possible
        ts.append(t)
    return pd.DataFrame({
        "user_id": [1] * n,
        "event_id": list(range(n)),
        "ts": pd.to_datetime(ts, unit="ms"),
        "event_type": [rng.choice(_TYPES) for _ in range(n)],
        "value": [round(rng.uniform(0, 100), 2) for _ in range(n)],
    })


def _shapes():
    a_b = (
        nfa.PatternSeq.begin("A", "event_type = 'click'")
        .followed_by("B", "event_type = 'purchase'")
        .after_match_skip("past_last")
    )
    opt = (
        nfa.PatternSeq.begin("a", "event_type = 'signup'")
        .followed_by("m", "value > 60")
        .optional()
        .followed_by("b", "event_type = 'view'")
        .within("48 hours")
    )
    xvar = (
        nfa.PatternSeq.begin("A", "event_type = 'click'")
        .followed_by("B", "event_type = 'purchase'")
        .where_iterative('EV["value"] > LAST("A", "value")', "value")
        .within("2 hours")
    )
    # row-local flags per shape, evaluated the way _with_flags would
    # (NULL-free frame, so no coalesce is needed)
    click_purchase = [lambda e: e.event_type == "click",
                      lambda e: e.event_type == "purchase"]
    opt_flags = [lambda e: e.event_type == "signup",
                 lambda e: e.value > 60,
                 lambda e: e.event_type == "view"]
    return {
        "ab_past_last": (a_b, click_purchase),
        "overlap_opt": (opt, opt_flags),
        "overlap_opt_bt": (opt.with_backtracking(), opt_flags),
        "xvar": (xvar, click_purchase),
    }


def _flagged(ev: pd.DataFrame, pat, flags) -> pd.DataFrame:
    cols = {"user_id": ev.user_id, "event_id": ev.event_id, "ts": ev.ts}
    for i, fn in enumerate(flags):
        cols[f"f{i}"] = fn(ev).astype(bool)
    for c in pat.value_cols:
        cols[f"v_{c}"] = ev[c]
    return pd.DataFrame(cols)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--events", type=int, default=50_000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args(argv)
    ev = _events(args.events, args.seed)
    rec: dict = {"events": args.events, "reps": args.reps}
    for name, (pat, flags) in _shapes().items():
        pdf = _flagged(ev, pat, flags)
        spec = nfa._spec(pat)
        best = float("inf")
        for _ in range(args.reps):
            t0 = time.perf_counter()
            out, _ = nfa._fold_events(1, pdf, [], spec, finalize=True)
            best = min(best, time.perf_counter() - t0)
        rec[name] = round(args.events / best / 1000, 1)
        rec[f"{name}_matches"] = len(out)
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
