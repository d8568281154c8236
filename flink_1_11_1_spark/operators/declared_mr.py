"""Oracle-backed declared entries for the SQL MATCH_RECOGNIZE front door
(extensions/match_recognize.py → streaming/nfa.py).

Each entry executes real MATCH_RECOGNIZE SQL text through the parser and
NFA engine; the oracle derives the identical match set relationally in
DuckDB (which has no MATCH_RECOGNIZE):

- x_mr_next: PATTERN (A B) — click immediately followed by purchase,
  WITHIN 7 days, SKIP PAST LAST ROW; oracle = lead() adjacency.  Also
  exercises the event_id join-back measure (B.value).
- x_mr_plus: PATTERN (V+ P) — maximal run of views immediately followed
  by a purchase; oracle = last-non-view frontier (gaps-and-islands).
  Greedy + PAST LAST ROW ⇒ exactly one maximal match per purchase.
- x_mr_optional: PATTERN (A B? C) — signup, optional click, purchase on
  consecutive rows; oracle = two-step lead() case analysis.
- x_mr_xvar: cross-variable DEFINE (B.value > A.value — Flink
  IterativeCondition, evaluated per-partial inside the fold); oracle =
  lead() value comparison.
- x_mr_allrows: ALL ROWS PER MATCH — one row per matched event with
  CLASSIFIER; oracle = UNION ALL of the A-row and B-row renderings.
- x_mr_prev: PREV(D.value) navigation — three consecutive value drops,
  PATTERN (D{3}) SKIP PAST LAST ROW; oracle = gaps-and-islands over the
  lag-compare flag with ordinal%3 match ends.
- x_mr_skip_to_last: the same D{3} shape under AFTER MATCH SKIP TO
  LAST D — matching restarts AT the previous match's last row, so
  match ends stride n-1 within each run (ordinals 3, 5, 7, …) and
  adjacent matches overlap on one row.

Reference parity: flink-table-planner-blink StreamExecMatch.scala
(MATCH_RECOGNIZE lowering), flink-cep nfa/NFA.java (strict contiguity:
SQL pattern concatenation is Flink ``next()``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extensions import registry
from ..extensions.match_recognize import match_recognize

_E = (
    "SELECT event_id, cast(date_trunc('milliseconds', ts) as timestamp) AS ts, "
    "user_id, event_type, value FROM events"
)


MR_NEXT_SQL = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES LAST(A.event_id) AS a_id, LAST(B.event_id) AS b_id,
           LAST(B.ts) AS b_ts, LAST(B.value) AS b_value
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B)
  WITHIN INTERVAL '7' DAY
  DEFINE A AS A.event_type = 'click', B AS B.event_type = 'purchase'
)
"""


def mr_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    return match_recognize(spark, MR_NEXT_SQL, sf_dir).orderBy("user_id", "a_id")


MR_NEXT_ORACLE = f"""
WITH e AS ({_E}),
seq AS (
  SELECT user_id, event_id, ts, event_type,
         lead(event_type) OVER w AS nt, lead(event_id) OVER w AS nid,
         lead(ts) OVER w AS nts, lead(value) OVER w AS nv
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, event_id AS a_id, nid AS b_id, nts AS b_ts, nv AS b_value
FROM seq
WHERE event_type = 'click' AND nt = 'purchase' AND nts <= ts + INTERVAL 7 DAY
ORDER BY user_id, a_id
"""


MR_PLUS_SQL = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES FIRST(V.event_id) AS v_first, COUNT(V.*) AS n_views,
           LAST(P.event_id) AS p_id
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (V+ P)
  DEFINE V AS V.event_type = 'view', P AS P.event_type = 'purchase'
)
"""


def mr_plus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return match_recognize(spark, MR_PLUS_SQL, sf_dir).orderBy("user_id", "v_first")


MR_PLUS_ORACLE = f"""
WITH e AS ({_E}),
seq AS (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM e),
x AS (
  SELECT user_id, event_id, event_type, rn,
         coalesce(max(CASE WHEN event_type <> 'view' THEN rn END)
           OVER (PARTITION BY user_id ORDER BY rn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lastnv
  FROM seq),
p AS (
  SELECT user_id, event_id AS p_id, rn, lastnv,
         cast(rn - lastnv - 1 AS bigint) AS n_views
  FROM x WHERE event_type = 'purchase' AND rn - lastnv - 1 >= 1)
SELECT p.user_id, s.event_id AS v_first, p.n_views, p.p_id
FROM p JOIN seq s ON s.user_id = p.user_id AND s.rn = p.lastnv + 1
ORDER BY p.user_id, v_first
"""


MR_OPTIONAL_SQL = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES FIRST(A.event_id) AS a_id, FIRST(B.event_id) AS m_id,
           FIRST(C.event_id) AS c_id
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B? C)
  DEFINE A AS A.event_type = 'signup', B AS B.event_type = 'click',
         C AS C.event_type = 'purchase'
)
"""


def mr_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    return match_recognize(spark, MR_OPTIONAL_SQL, sf_dir).orderBy("user_id", "a_id")


MR_OPTIONAL_ORACLE = f"""
WITH e AS ({_E}),
seq AS (
  SELECT user_id, event_id, event_type,
         lead(event_type, 1) OVER w AS t1, lead(event_id, 1) OVER w AS i1,
         lead(event_type, 2) OVER w AS t2, lead(event_id, 2) OVER w AS i2
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, event_id AS a_id,
       CASE WHEN t1 = 'click' AND t2 = 'purchase' THEN i1 END AS m_id,
       CASE WHEN t1 = 'purchase' THEN i1
            WHEN t1 = 'click' AND t2 = 'purchase' THEN i2 END AS c_id
FROM seq
WHERE event_type = 'signup'
  AND (t1 = 'purchase' OR (t1 = 'click' AND t2 = 'purchase'))
ORDER BY user_id, a_id
"""


MR_XVAR_SQL = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES LAST(A.event_id) AS a_id, LAST(B.event_id) AS b_id
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B)
  WITHIN INTERVAL '7' DAY
  DEFINE A AS A.event_type = 'click',
         B AS B.event_type = 'purchase' AND B.value > A.value
)
"""


def mr_xvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    return match_recognize(spark, MR_XVAR_SQL, sf_dir).orderBy("user_id", "a_id")


MR_XVAR_ORACLE = f"""
WITH e AS ({_E}),
seq AS (
  SELECT user_id, event_id, ts, event_type, value,
         lead(event_type) OVER w AS nt, lead(event_id) OVER w AS nid,
         lead(ts) OVER w AS nts, lead(value) OVER w AS nv
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, event_id AS a_id, nid AS b_id
FROM seq
WHERE event_type = 'click' AND nt = 'purchase' AND nv > value
  AND nts <= ts + INTERVAL 7 DAY
ORDER BY user_id, a_id
"""


MR_ALLROWS_SQL = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES FIRST(A.event_id) AS a_id, MATCH_NUMBER() AS mn,
           CLASSIFIER() AS classifier
  ALL ROWS PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B)
  WITHIN INTERVAL '7' DAY
  DEFINE A AS A.event_type = 'click', B AS B.event_type = 'purchase'
)
"""


def mr_allrows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return match_recognize(spark, MR_ALLROWS_SQL, sf_dir).orderBy(
        "user_id", "a_id", "event_id"
    )


MR_ALLROWS_ORACLE = f"""
WITH e AS ({_E}),
seq AS (
  SELECT user_id, event_id, ts, event_type,
         lead(event_type) OVER w AS nt, lead(event_id) OVER w AS nid,
         lead(ts) OVER w AS nts
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
m AS (SELECT *,
        cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             as bigint) AS mn
      FROM seq
      WHERE event_type = 'click' AND nt = 'purchase' AND nts <= ts + INTERVAL 7 DAY)
SELECT user_id, event_id AS a_id, mn, event_id, ts, 'A' AS classifier FROM m
UNION ALL
SELECT user_id, event_id AS a_id, mn, nid AS event_id, nts AS ts, 'B' AS classifier FROM m
ORDER BY user_id, a_id, event_id
"""


MR_PREV_SQL = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES FIRST(D.event_id) AS d_first, LAST(D.event_id) AS d_last
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (D{3})
  DEFINE D AS D.value < PREV(D.value)
)
"""


def mr_prev(spark: SparkSession, sf_dir: str) -> DataFrame:
    return match_recognize(spark, MR_PREV_SQL, sf_dir).orderBy("user_id", "d_first")


# Three consecutive drops, non-overlapping greedy-from-oldest (PAST LAST
# ROW): within each maximal run of "value < previous value" rows, the
# matches end at run-ordinal 3, 6, 9, …  Rendered relationally as
# gaps-and-islands over the lag-compare flag.
MR_PREV_ORACLE = f"""
WITH e AS ({_E}),
s AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN value < lag(value) OVER w THEN 1 ELSE 0 END d,
         row_number() OVER w rn
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
runs AS (
  SELECT user_id, event_id, rn,
         rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) island
  FROM s WHERE d = 1),
ord AS (
  SELECT user_id, event_id, rn, island,
         row_number() OVER (PARTITION BY user_id, island ORDER BY rn) k
  FROM runs)
SELECT a.user_id, a.event_id AS d_first, b.event_id AS d_last
FROM ord b JOIN ord a
  ON a.user_id = b.user_id AND a.island = b.island AND a.k = b.k - 2
WHERE b.k % 3 = 0
ORDER BY a.user_id, d_first
"""


MR_SKIP_TO_LAST_SQL = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES FIRST(D.event_id) AS d_first, LAST(D.event_id) AS d_last
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO LAST D
  PATTERN (D{3})
  DEFINE D AS D.value < PREV(D.value)
)
"""


def mr_skip_to_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    return match_recognize(spark, MR_SKIP_TO_LAST_SQL, sf_dir).orderBy(
        "user_id", "d_first"
    )


# SKIP TO LAST D restarts matching AT the previous match's last row
# (flink-cep aftermatch/AfterMatchSkipStrategy SKIP_TO_LAST), so within
# each maximal run of "value < previous value" rows the match ends fall
# at run ordinals 3, 5, 7, … — stride n-1 = 2, overlapping on one row —
# versus PAST LAST ROW's disjoint 3, 6, 9 (x_mr_prev, same DEFINE).
MR_SKIP_TO_LAST_ORACLE = f"""
WITH e AS ({_E}),
s AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN value < lag(value) OVER w THEN 1 ELSE 0 END d,
         row_number() OVER w rn
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
runs AS (
  SELECT user_id, event_id, rn,
         rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) island
  FROM s WHERE d = 1),
ord AS (
  SELECT user_id, event_id, rn, island,
         row_number() OVER (PARTITION BY user_id, island ORDER BY rn) k
  FROM runs)
SELECT a.user_id, a.event_id AS d_first, b.event_id AS d_last
FROM ord b JOIN ord a
  ON a.user_id = b.user_id AND a.island = b.island AND a.k = b.k - 2
WHERE b.k >= 3 AND (b.k - 3) % 2 = 0
ORDER BY a.user_id, d_first
"""


MR_ALLROWS_RUNNING_SQL = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES FIRST(A.event_id) AS a_id, RUNNING LAST(B.event_id) AS b_seen,
           RUNNING COUNT(B.*) AS nb, CLASSIFIER() AS classifier
  ALL ROWS PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B)
  WITHIN INTERVAL '7' DAY
  DEFINE A AS A.event_type = 'click', B AS B.event_type = 'purchase'
)
"""


def mr_allrows_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNNING measure semantics (the SQL/Flink default for ALL ROWS):
    each output row sees only the match prefix up to itself — on the
    A row the B measures are NULL/0, on the B row they are bound."""
    return match_recognize(spark, MR_ALLROWS_RUNNING_SQL, sf_dir).orderBy(
        "user_id", "a_id", "event_id"
    )


MR_ALLROWS_RUNNING_ORACLE = f"""
WITH e AS ({_E}),
seq AS (
  SELECT user_id, event_id, ts, event_type,
         lead(event_type) OVER w AS nt, lead(event_id) OVER w AS nid,
         lead(ts) OVER w AS nts
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
m AS (SELECT * FROM seq
      WHERE event_type = 'click' AND nt = 'purchase' AND nts <= ts + INTERVAL 7 DAY)
SELECT user_id, event_id AS a_id, NULL::BIGINT b_seen, 0::BIGINT nb,
       event_id, ts, 'A' AS classifier FROM m
UNION ALL
SELECT user_id, event_id AS a_id, nid b_seen, 1::BIGINT nb,
       nid AS event_id, nts AS ts, 'B' AS classifier FROM m
ORDER BY user_id, a_id, event_id
"""


MR_OFFSETS_SQL = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES FIRST(V.event_id) AS v1, FIRST(V.event_id, 1) AS v2,
           LAST(V.event_id, 1) AS v_penult, LAST(P.event_id) AS p_id
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (V+ P)
  DEFINE V AS V.event_type = 'view', P AS P.event_type = 'purchase'
)
"""


def mr_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logical-offset navigation (FIRST/LAST(V.col, n)) over the V+ run:
    second row from the start and from the end, NULL on 1-row runs."""
    return match_recognize(spark, MR_OFFSETS_SQL, sf_dir).orderBy("user_id", "v1")


MR_OFFSETS_ORACLE = f"""
WITH e AS ({_E}),
seq AS (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM e),
x AS (
  SELECT user_id, event_id, event_type, rn,
         coalesce(max(CASE WHEN event_type <> 'view' THEN rn END)
           OVER (PARTITION BY user_id ORDER BY rn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lastnv
  FROM seq),
p AS (
  SELECT user_id, event_id AS p_id, rn, lastnv, rn - lastnv - 1 AS nv
  FROM x WHERE event_type = 'purchase' AND rn - lastnv - 1 >= 1)
SELECT p.user_id, f1.event_id AS v1, f2.event_id AS v2,
       pen.event_id AS v_penult, p.p_id
FROM p
JOIN seq f1 ON f1.user_id = p.user_id AND f1.rn = p.lastnv + 1
LEFT JOIN seq f2 ON f2.user_id = p.user_id AND f2.rn = p.lastnv + 2 AND p.nv >= 2
LEFT JOIN seq pen ON pen.user_id = p.user_id AND pen.rn = p.rn - 2 AND p.nv >= 2
ORDER BY p.user_id, v1
"""


MR_AGG_SQL = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES FIRST(V.event_id) AS v_first, SUM(V.value) AS v_sum,
           AVG(V.value) AS v_avg, LAST(P.event_id) AS p_id
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (V+ P)
  DEFINE V AS V.event_type = 'view', P AS P.event_type = 'purchase'
)
"""


def mr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate measures (Flink SUM/AVG over a quantified variable's
    rows), resolved via match-id explode + event_id join.  The measure
    layer accumulates in DECIMAL(28,10) (order-free, cross-engine
    exact), so no rounding is needed here at all."""
    out = match_recognize(spark, MR_AGG_SQL, sf_dir)
    return out.select(
        "user_id", "v_first", "v_sum", "v_avg", "p_id"
    ).orderBy("user_id", "v_first")


MR_AGG_ORACLE = f"""
WITH e AS (
  SELECT event_id, cast(date_trunc('milliseconds', ts) as timestamp) AS ts,
         user_id, event_type, value FROM events),
seq AS (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM e),
x AS (
  SELECT user_id, event_id, event_type, value, rn,
         coalesce(max(CASE WHEN event_type <> 'view' THEN rn END)
           OVER (PARTITION BY user_id ORDER BY rn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lastnv
  FROM seq),
p AS (
  SELECT user_id, event_id AS p_id, rn, lastnv
  FROM x WHERE event_type = 'purchase' AND rn - lastnv - 1 >= 1),
agg AS (
  SELECT p.user_id, p.p_id, p.lastnv,
         sum(s.value::DECIMAL(28,10))::DOUBLE v_sum,
         sum(s.value::DECIMAL(28,10))::DOUBLE / count(s.value) v_avg
  FROM p JOIN seq s
    ON s.user_id = p.user_id AND s.rn > p.lastnv AND s.rn < p.rn
  GROUP BY 1, 2, 3)
SELECT a.user_id, f.event_id AS v_first, a.v_sum, a.v_avg, a.p_id
FROM agg a JOIN seq f ON f.user_id = a.user_id AND f.rn = a.lastnv + 1
ORDER BY a.user_id, v_first
"""


# ------------------------------------------------ backtracking (round 7)
# PATTERN (A B? C) where B and C share the SAME value condition — not
# provably disjoint, so match_recognize auto-selects the branching NFA
# (streaming/nfa._fold_events, backtracking mode — Flink [cep]nfa/NFA.java):
# at the row after A the fold FORKS (bind it to B, or skip B and bind
# it to C); the greedy branch (B taken) wins iff a second qualifying
# row completes C, else the backtrack branch (B skipped) emits.  The
# deterministic-greedy fold would always bind B and miss every
# single-qualifying-row match.  SKIP TO NEXT ROW keeps every start
# independent, so the oracle is a two-step lead() case analysis.

MR_BACKTRACK_SQL = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES FIRST(A.event_id) AS a_id, FIRST(B.event_id) AS b_id,
           LAST(C.event_id) AS c_id
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (A B? C)
  DEFINE A AS A.event_type = 'view',
         B AS B.value >= 69.0,
         C AS C.value >= 69.0
)
"""


def mr_backtrack(spark: SparkSession, sf_dir: str) -> DataFrame:
    return match_recognize(spark, MR_BACKTRACK_SQL, sf_dir) \
        .orderBy("user_id", "a_id")


MR_BACKTRACK_ORACLE = f"""
WITH e AS ({_E}),
seq AS (
  SELECT user_id, event_id, event_type,
         lead(value, 1) OVER w AS v1, lead(event_id, 1) OVER w AS i1,
         lead(value, 2) OVER w AS v2, lead(event_id, 2) OVER w AS i2
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, event_id AS a_id,
       CASE WHEN v2 >= 69.0 THEN i1 END AS b_id,
       CASE WHEN v2 >= 69.0 THEN i2 ELSE i1 END AS c_id
FROM seq
WHERE event_type = 'view' AND v1 >= 69.0
ORDER BY user_id, a_id
"""


MR_ALTERNATION_SQL = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES FIRST(A.event_id) AS a_id, LAST(B.event_id) AS b_id,
           LAST(C.event_id) AS c_id, LAST(D.event_id) AS d_id
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A (B | C) D)
  WITHIN INTERVAL '7' DAY
  DEFINE A AS A.event_type = 'click', B AS B.event_type = 'view',
         C AS C.event_type = 'error', D AS D.event_type = 'purchase'
)
"""


def mr_alternation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PATTERN alternation ``(B | C)`` (SQL:2016 pattern grammar;
    Calcite parses it for Flink — flink-table-planner
    MatchRecognizeITCase): click, then view OR error, then purchase on
    consecutive rows.  The unmatched alternative's measure is NULL.
    Alternative types are disjoint, so candidates cannot overlap and
    PAST LAST ROW keeps every one (oracle = plain lead() adjacency)."""
    return match_recognize(spark, MR_ALTERNATION_SQL, sf_dir) \
        .orderBy("user_id", "a_id")


MR_ALTERNATION_ORACLE = f"""
WITH e AS ({_E}),
seq AS (
  SELECT user_id, event_id, ts, event_type,
         lead(event_type, 1) OVER w AS nt1, lead(event_id, 1) OVER w AS nid1,
         lead(event_type, 2) OVER w AS nt2, lead(event_id, 2) OVER w AS nid2,
         lead(ts, 2) OVER w AS nts2
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, event_id AS a_id,
       CASE WHEN nt1 = 'view' THEN nid1 END AS b_id,
       CASE WHEN nt1 = 'error' THEN nid1 END AS c_id,
       nid2 AS d_id
FROM seq
WHERE event_type = 'click' AND nt1 IN ('view', 'error')
  AND nt2 = 'purchase' AND nts2 <= ts + INTERVAL 7 DAY
ORDER BY user_id, a_id
"""


MR_GROUP_SQL = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES FIRST(A.event_id) AS a_id, COUNT(A.*) AS n_loops,
           LAST(B.event_id) AS b_last, LAST(C.event_id) AS c_id
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN ((A B){1,2} C)
  WITHIN INTERVAL '7' DAY
  DEFINE A AS A.event_type = 'click', B AS B.event_type = 'view',
         C AS C.event_type = 'purchase'
)
"""


def mr_group_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified SEQUENCE group ``(A B){1,2} C`` (SQL:2016 grouped
    quantification; flink-cep pattern/GroupPattern.java is the API
    twin): one or two click-view rounds then a purchase, consecutive
    rows, greedy, one match per start (TO NEXT ROW).

    Plans NATIVELY: bounded groups unroll into tier-A lead() branches
    ordered by the regex decision sequence
    (nfa_lowering._lower_fixed) — no Python stage; the NFA
    group loop-back fold stays the general path (past_last,
    unbounded reps).  Oracle: the greedy 5-row template wins its
    start; the 3-row template emits where the 5-row can't."""
    return match_recognize(spark, MR_GROUP_SQL, sf_dir) \
        .orderBy("user_id", "a_id")


MR_GROUP_ORACLE = f"""
WITH e AS ({_E}),
seq AS (
  SELECT user_id, event_id, ts, event_type,
         lead(event_type, 1) OVER w AS t1, lead(event_id, 1) OVER w AS i1,
         lead(event_type, 2) OVER w AS t2, lead(event_id, 2) OVER w AS i2,
         lead(event_type, 3) OVER w AS t3, lead(event_id, 3) OVER w AS i3,
         lead(event_type, 4) OVER w AS t4, lead(event_id, 4) OVER w AS i4,
         lead(ts, 2) OVER w AS ts2, lead(ts, 4) OVER w AS ts4
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
cand AS (
  SELECT *,
         (event_type = 'click' AND t1 = 'view' AND t2 = 'click'
          AND t3 = 'view' AND t4 = 'purchase'
          AND ts4 <= ts + INTERVAL 7 DAY) AS is5,
         (event_type = 'click' AND t1 = 'view' AND t2 = 'purchase'
          AND ts2 <= ts + INTERVAL 7 DAY) AS is3
  FROM seq)
SELECT user_id, event_id AS a_id, cast(2 AS bigint) AS n_loops,
       i3 AS b_last, i4 AS c_id
FROM cand WHERE is5
UNION ALL
SELECT user_id, event_id AS a_id, cast(1 AS bigint) AS n_loops,
       i1 AS b_last, i2 AS c_id
FROM cand WHERE is3 AND NOT is5
ORDER BY user_id, a_id
"""


# -- x_mr_subset: SQL:2016 SUBSET union variables (round 9) ------------
#
# SUBSET S = (V, P) (Calcite SqlMatchRecognize.subsetList; SQL:2016
# union pattern variables): S navigates the rows labeled with ANY
# member.  Shape: maximal view-run + purchase (the proven x_mr_plus
# islands), with measures over the UNION — FIRST/LAST(S.event_id),
# COUNT(S.*), MIN/MAX(S.value).  MIN/MAX are single IEEE comparisons
# (no accumulation), so the oracle is bit-exact.

MR_SUBSET_SQL = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES FIRST(S.event_id) AS s_first, LAST(S.event_id) AS s_last,
           COUNT(S.*) AS n_all, MIN(S.value) AS s_min, MAX(S.value) AS s_max
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (V+ P)
  SUBSET S = (V, P)
  DEFINE V AS V.event_type = 'view', P AS P.event_type = 'purchase'
)
"""


def mr_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return match_recognize(spark, MR_SUBSET_SQL, sf_dir).orderBy(
        "user_id", "s_first"
    )


MR_SUBSET_ORACLE = f"""
WITH e AS ({_E}),
seq AS (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM e),
x AS (
  SELECT user_id, event_id, event_type, rn,
         coalesce(max(CASE WHEN event_type <> 'view' THEN rn END)
           OVER (PARTITION BY user_id ORDER BY rn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lastnv
  FROM seq),
m AS (
  SELECT user_id, lastnv + 1 AS lo, rn AS hi
  FROM x WHERE event_type = 'purchase' AND rn - lastnv - 1 >= 1)
SELECT m.user_id,
       min(CASE WHEN s.rn = m.lo THEN s.event_id END) AS s_first,
       min(CASE WHEN s.rn = m.hi THEN s.event_id END) AS s_last,
       cast(m.hi - m.lo + 1 AS bigint) AS n_all,
       min(s.value) AS s_min, max(s.value) AS s_max
FROM m JOIN seq s ON s.user_id = m.user_id AND s.rn BETWEEN m.lo AND m.hi
GROUP BY m.user_id, m.lo, m.hi
ORDER BY m.user_id, s_first
"""


# -- x_mr_multikey: multi-column PARTITION BY (round 9) ----------------
#
# Flink/Calcite accept any PARTITION BY key list; the front door lowers
# a multi-key onto a synthesized composite column and joins the
# components back onto the match set.  Shape: per-(user, day)
# view-runs ending in a purchase — contiguity resets at day
# boundaries because the PARTITION, not the data, slices the stream.

MR_MULTIKEY_SQL = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id, dy
  ORDER BY ts, event_id
  MEASURES FIRST(V.event_id) AS v_first, COUNT(V.*) AS n_views,
           LAST(P.event_id) AS p_id
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (V+ P)
  DEFINE V AS V.event_type = 'view', P AS P.event_type = 'purchase'
)
"""


def mr_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import catalog as _catalog

    ev = _catalog.load_table(spark, sf_dir, "events")
    return match_recognize(
        spark, MR_MULTIKEY_SQL,
        events=ev.withColumn("dy", F.dayofmonth("ts").cast("long")),
    ).orderBy("user_id", "dy", "v_first")


MR_MULTIKEY_ORACLE = f"""
WITH e AS ({_E}),
em AS (SELECT *, cast(extract(day FROM ts) AS bigint) AS dy FROM e),
seq AS (
  SELECT user_id, dy, event_id, event_type,
         row_number() OVER (PARTITION BY user_id, dy ORDER BY ts, event_id) AS rn
  FROM em),
x AS (
  SELECT user_id, dy, event_id, event_type, rn,
         coalesce(max(CASE WHEN event_type <> 'view' THEN rn END)
           OVER (PARTITION BY user_id, dy ORDER BY rn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lastnv
  FROM seq),
p AS (
  SELECT user_id, dy, event_id AS p_id, rn, lastnv,
         cast(rn - lastnv - 1 AS bigint) AS n_views
  FROM x WHERE event_type = 'purchase' AND rn - lastnv - 1 >= 1)
SELECT p.user_id, p.dy, s.event_id AS v_first, p.n_views, p.p_id
FROM p JOIN seq s
  ON s.user_id = p.user_id AND s.dy = p.dy AND s.rn = p.lastnv + 1
ORDER BY p.user_id, p.dy, v_first
"""


# -- x_mr_composed: MATCH_RECOGNIZE as a TABLE FACTOR (round 9) --------
#
# Flink/Calcite treat MATCH_RECOGNIZE as a table primary
# (SqlMatchRecognize; flink-table-planner-blink MatchRecognizeITCase
# composes it under joins and INSERT INTO).  This entry proves the
# composable front door end-to-end: the match output is aliased, joined
# to a dimension table and aggregated IN THE SAME STATEMENT through
# TableEnvironment.execute_sql.  Cents are integer-quantized with
# floor() (IEEE-correctly-rounded on both engines) so the sum is exact.

MR_COMPOSED_SQL = """
SELECT c.c_nationkey AS nk, count(*) AS n_matches,
       sum(cast(floor(m.b_value * 100) AS bigint)) AS cents
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES LAST(A.event_id) AS a_id, LAST(B.value) AS b_value
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B)
  WITHIN INTERVAL '7' DAY
  DEFINE A AS A.event_type = 'click', B AS B.event_type = 'purchase'
) AS m
JOIN customer c ON m.user_id = c.c_custkey
GROUP BY c.c_nationkey
ORDER BY nk
"""


def mr_composed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import catalog as _catalog
    from ..table_env import TableEnvironment

    _catalog.register(spark, sf_dir)
    return TableEnvironment(spark).execute_sql(MR_COMPOSED_SQL)


MR_COMPOSED_ORACLE = f"""
WITH e AS ({_E}),
seq AS (
  SELECT user_id, event_id, ts, event_type,
         lead(event_type) OVER w AS nt, lead(ts) OVER w AS nts,
         lead(value) OVER w AS nv
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
m AS (
  SELECT user_id, nv AS b_value
  FROM seq
  WHERE event_type = 'click' AND nt = 'purchase'
    AND nts <= ts + INTERVAL 7 DAY)
SELECT c.c_nationkey AS nk, count(*) AS n_matches,
       cast(sum(cast(floor(m.b_value * 100) AS bigint)) AS bigint) AS cents
FROM m JOIN customer c ON m.user_id = c.c_custkey
GROUP BY c.c_nationkey
ORDER BY nk
"""


# -- x_mr_quantified_tail: greedy quantified FINAL state (round 11) ----
# PATTERN (A B{1,3}) — previously rejected, valid Flink 1.11: greedy
# takes up to 3 consecutive views after a click, closing at the cap, a
# breaking row, or end of partition.  SKIP TO NEXT ROW (Flink's CEP
# default) lowers through the NEW tier-A quantified-final path (the
# declared entry exercises the native plan; the past_last fold twin is
# unit-tested) — and with starts only at clicks and no click inside a
# match, to_next / no_skip / past_last coincide on this shape, which
# is what the greedy-longest oracle below computes.

MR_QTAIL_SQL = """
SELECT * FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES FIRST(A.event_id) AS a_id, COUNT(B.*) AS n_b,
           FIRST(B.event_id) AS b_first, LAST(B.event_id) AS b_last
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (A B{1,3})
  DEFINE A AS A.event_type = 'click', B AS B.event_type = 'view'
)
"""


def mr_quantified_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    return match_recognize(spark, MR_QTAIL_SQL, sf_dir).orderBy(
        "user_id", "a_id")


# Greedy-longest in plain SQL: for each click whose NEXT row is a view,
# the B count is min(3, view-run length); the run's first/last ids come
# from the row-number join.  row_number is INT on Spark / BIGINT on
# DuckDB — every rn-derived output is cast.
MR_QTAIL_ORACLE = f"""
WITH e AS ({_E}),
seq AS (
  SELECT user_id, event_id, event_type,
         cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS bigint) AS rn
  FROM e),
x AS (
  SELECT user_id, event_id, event_type, rn,
         min(CASE WHEN event_type <> 'view' THEN rn END)
           OVER (PARTITION BY user_id ORDER BY rn
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_nv,
         max(rn) OVER (PARTITION BY user_id) AS max_rn
  FROM seq),
m AS (
  SELECT user_id, event_id AS a_id, rn,
         cast(least(coalesce(next_nv, max_rn + 1) - rn - 1, 3) AS bigint) AS n_b
  FROM x WHERE event_type = 'click'
    AND coalesce(next_nv, max_rn + 1) - rn - 1 >= 1)
SELECT m.user_id, m.a_id, m.n_b,
       f.event_id AS b_first, l.event_id AS b_last
FROM m
JOIN seq f ON f.user_id = m.user_id AND f.rn = m.rn + 1
JOIN seq l ON l.user_id = m.user_id AND l.rn = m.rn + m.n_b
ORDER BY m.user_id, m.a_id
"""


def register_all() -> None:
    registry.register(
        "x_mr_quantified_tail", mr_quantified_tail, MR_QTAIL_ORACLE)
    registry.register("x_mr_subset", mr_subset, MR_SUBSET_ORACLE)
    registry.register("x_mr_multikey", mr_multikey, MR_MULTIKEY_ORACLE)
    registry.register("x_mr_composed", mr_composed, MR_COMPOSED_ORACLE)
    registry.register("x_mr_backtrack", mr_backtrack, MR_BACKTRACK_ORACLE)
    registry.register("x_mr_alternation", mr_alternation, MR_ALTERNATION_ORACLE)
    registry.register("x_mr_group_funnel", mr_group_funnel, MR_GROUP_ORACLE)
    registry.register("x_mr_next", mr_next, MR_NEXT_ORACLE)
    registry.register("x_mr_plus", mr_plus, MR_PLUS_ORACLE)
    registry.register("x_mr_optional", mr_optional, MR_OPTIONAL_ORACLE)
    registry.register("x_mr_xvar", mr_xvar, MR_XVAR_ORACLE)
    registry.register("x_mr_allrows", mr_allrows, MR_ALLROWS_ORACLE)
    registry.register("x_mr_prev", mr_prev, MR_PREV_ORACLE)
    registry.register("x_mr_skip_to_last", mr_skip_to_last, MR_SKIP_TO_LAST_ORACLE)
    registry.register("x_mr_agg", mr_agg, MR_AGG_ORACLE)
    registry.register(
        "x_mr_allrows_running", mr_allrows_running, MR_ALLROWS_RUNNING_ORACLE
    )
    registry.register("x_mr_offsets", mr_offsets, MR_OFFSETS_ORACLE)
