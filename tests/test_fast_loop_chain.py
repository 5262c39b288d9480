"""Differential tests for the trailing-loop-group chain kernel
(operators/fast_path.py::match_pattern_fast_loop_chain, round 7).

The kernel compiles ``PATTERN (P1 .. Ps (X1 .. XL)+)`` under LONGEST
derivation to vectorized row arithmetic; the general NFA tier
(operators/cep_batch.py::match_pattern via the held-completion
machinery) is the semantics reference. Both must agree bit-for-bit on
every shape the kernel accepts — including predicate OVERLAP (a row
satisfying both X and Y), where the island intuition breaks but the
positionally-forced assignment argument still holds.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pytest

from flink_cep_examples_spark.operators.fast_path import (
    fast_loop_chain_applicable,
)
from flink_cep_examples_spark.sql.match_recognize import (
    match_recognize,
    parse_match_recognize,
)

BASE = datetime(2024, 1, 1)


def _events_df(spark, rows):
    """rows: list of (user_id, minute_offset, event_id)."""
    return spark.createDataFrame(
        [
            (u, BASE + timedelta(minutes=mo), e)
            for u, mo, e in rows
        ],
        "user_id long, ts timestamp, event_id long",
    )


def _random_rows(seed: int, n_users: int = 6, n_rows: int = 80):
    rng = random.Random(seed)
    rows = []
    for u in range(n_users):
        for i in range(rng.randrange(n_rows // 2, n_rows)):
            rows.append((u, i, rng.randrange(0, 7)))
    return rows


def _both(spark, df, body):
    fast = match_recognize(df, body, tiebreak_col="event_id")
    nfa = match_recognize(
        df, body, tiebreak_col="event_id", use_fast_path=False
    )
    f = sorted(map(tuple, fast.collect()))
    n = sorted(map(tuple, nfa.collect()))
    return f, n


BODY_PLAIN = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES FIRST(X.ts) AS fx, LAST(Y.ts) AS ly,
         COUNT(X.*) AS pairs, MATCH_NUMBER() AS mn, CLASSIFIER() AS cl
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((X Y)+)
DEFINE X AS event_id % 3 = 1, Y AS event_id % 3 = 2
"""

BODY_OVERLAP = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES FIRST(X.ts) AS fx, LAST(Y.ts) AS ly, COUNT(Y.*) AS ys
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((X Y)+)
DEFINE X AS event_id >= 2, Y AS event_id >= 1
"""

BODY_PREFIX = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES FIRST(A.ts) AS fa, LAST(C.ts) AS lc,
         COUNT(B.*) AS bs, MATCH_NUMBER() AS mn
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN (A (B C)+)
DEFINE A AS event_id % 3 = 0,
       B AS event_id % 3 = 1, C AS event_id % 3 = 2
"""

BODY_N_OR_MORE = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES FIRST(X.ts) AS fx, LAST(Y.ts) AS ly, COUNT(X.*) AS xs
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((X Y){2,})
DEFINE X AS event_id % 3 = 1, Y AS event_id % 3 = 2
"""

BODY_SKIP_TO_NEXT = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES FIRST(X.ts) AS fx, COUNT(X.*) AS xs, MATCH_NUMBER() AS mn
ONE ROW PER MATCH
AFTER MATCH SKIP TO NEXT ROW
PATTERN ((X Y)+)
DEFINE X AS event_id % 2 = 1, Y AS event_id % 2 = 0
"""

BODY_TRIPLE = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES FIRST(X.ts) AS fx, LAST(Z.ts) AS lz, COUNT(Y.*) AS ys
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((X Y Z)+)
DEFINE X AS event_id % 4 = 1, Y AS event_id % 4 = 2,
       Z AS event_id % 4 = 3
"""


#: NULL tiebreaks on timestamp ties: every tier scans NULLs last, so
#: user 99's NULL row sits between the tied X and the next Y and breaks
#: the chain; user 98's NULL row, listed first, sorts after the X too
_NULL_TIEBREAK_ROWS = [
    (99, 0, 1), (99, 0, None), (99, 1, 2), (99, 2, 1), (99, 3, 2),
    (98, 0, None), (98, 0, 1), (98, 1, 2), (98, 2, 0), (98, 2, None),
]


@pytest.mark.parametrize(
    "body",
    [
        BODY_PLAIN,
        BODY_OVERLAP,
        BODY_PREFIX,
        BODY_N_OR_MORE,
        BODY_SKIP_TO_NEXT,
        BODY_TRIPLE,
    ],
    ids=["plain", "overlap", "prefix", "n_or_more", "skip_to_next", "triple"],
)
@pytest.mark.parametrize("seed", [7, 21, "null_tiebreak"])
def test_fast_matches_nfa(spark, body, seed):
    rows = (
        _random_rows(7) + _NULL_TIEBREAK_ROWS
        if seed == "null_tiebreak"
        else _random_rows(seed)
    )
    df = _events_df(spark, rows)
    spec = parse_match_recognize(body)
    assert fast_loop_chain_applicable(spec), "shape must compile"
    f, n = _both(spark, df, body)
    assert f == n
    assert len(f) > 0, "fixture must exercise matches"


def test_hand_sequence_longest(spark):
    """x y x y y x y: longest consumes (x y)(x y) [rows 0-3], row 4
    breaks the chain, rows 5-6 form a second match."""
    rows = [(1, i, e) for i, e in enumerate([1, 2, 1, 2, 2, 1, 2])]
    df = _events_df(spark, rows)
    f, n = _both(spark, df, BODY_PLAIN)
    assert f == n
    assert len(f) == 2
    by_mn = sorted(f, key=lambda r: r[4])  # (user_id, fx, ly, pairs, mn, cl)
    assert by_mn[0][3] == 2  # pairs in the first (maximal) match
    assert by_mn[1][3] == 1


def test_overlap_chains_immediately(spark):
    """All rows satisfy both X and Y: every pair of rows is an
    iteration, one maximal match consumes the whole (even-length) run —
    the case where mutually-exclusive-class island logic would go
    wrong."""
    rows = [(1, i, 5) for i in range(6)]  # 5 ≥ 2 and 5 ≥ 1
    df = _events_df(spark, rows)
    f, n = _both(spark, df, BODY_OVERLAP)
    assert f == n
    assert len(f) == 1
    assert f[0][3] == 3  # ys: three iterations


def test_gating_falls_back_to_nfa():
    # WITHIN compiles since round 8 (it used to force the NFA tier)
    within = parse_match_recognize(
        BODY_PLAIN.replace(
            "PATTERN ((X Y)+)", "PATTERN ((X Y)+) WITHIN INTERVAL '1' HOUR"
        )
    )
    assert fast_loop_chain_applicable(within)
    # aggregates (incl. count_col) compile since round 11 — the kernel
    # computes per-match reductions over positional / predicate-
    # selected row sets
    import dataclasses

    from flink_cep_examples_spark.plans.pattern import Measure

    base = parse_match_recognize(BODY_PLAIN)
    count_col = dataclasses.replace(
        base,
        measures=(
            Measure(name="nn", var="X", src="event_id", fn="count_col"),
        ),
    )
    assert fast_loop_chain_applicable(count_col)
    # RUNNING measures still decline (the all-rows tier's segmented
    # cumsum serves single-var targets; others NFA)
    run = dataclasses.replace(
        base,
        measures=(
            Measure(
                name="rs", var="X", src="event_id", fn="sum", running=True
            ),
        ),
    )
    assert not fast_loop_chain_applicable(run)


BODY_SUFFIX = """
        PARTITION BY user_id ORDER BY ts, event_id
        MEASURES FIRST(X.ts) AS fx, LAST(Z.ts) AS lz, COUNT(X.*) AS pairs
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN ((X Y)+ Z)
        DEFINE X AS event_id % 3 = 1, Y AS event_id % 3 = 2,
               Z AS event_id % 3 = 0
"""


def test_suffix_group_applicable_and_agrees(spark):
    """Round 7.2: a loop group followed by a fixed suffix compiles to
    the suffix-anchored chain kernel (_strided_chain_suffix) — the
    round-6 kernel rejected this shape; the backtracking-greedy count
    must match the NFA's held-longest resolution."""
    spec = parse_match_recognize(BODY_SUFFIX)
    assert fast_loop_chain_applicable(spec)
    for seed in (11, 12, 13):
        df = _events_df(spark, _random_rows(seed))
        fa, nf = _both(spark, df, BODY_SUFFIX)
        assert fa == nf
        assert fa, f"seed {seed}: no matches — test is vacuous"


BODY_WITHIN = BODY_PLAIN.replace(
    "PATTERN ((X Y)+)",
    "PATTERN ((X Y)+) WITHIN INTERVAL '5' MINUTE",
)

BODY_SUFFIX_WITHIN = BODY_SUFFIX.replace(
    "PATTERN ((X Y)+ Z)",
    "PATTERN ((X Y)+ Z) WITHIN INTERVAL '7' MINUTE",
)

BODY_PREFIX_WITHIN = BODY_PREFIX.replace(
    "PATTERN (A (B C)+)",
    "PATTERN (A (B C)+) WITHIN INTERVAL '6' MINUTE",
)


@pytest.mark.parametrize(
    "body",
    [BODY_WITHIN, BODY_SUFFIX_WITHIN, BODY_PREFIX_WITHIN],
    ids=["within_plain", "within_suffix", "within_prefix"],
)
@pytest.mark.parametrize("seed", [5, 33])
def test_within_matches_nfa(spark, body, seed):
    """Round 8: WITHIN compiles into the chain kernel as a per-start
    iteration cap. Rows are 1 minute apart, so the deadline truncates
    almost every chain — the binding case — and the kernel must agree
    with the NFA's pruning bit-for-bit."""
    df = _events_df(spark, _random_rows(seed))
    spec = parse_match_recognize(body)
    assert fast_loop_chain_applicable(spec), "WITHIN shape must compile"
    f, n = _both(spark, df, body)
    assert f == n
    assert len(f) > 0, "fixture must exercise matches"


def test_within_exact_deadline_excluded(spark):
    """Strict < at the deadline (the golden-fixture semantics: a
    completion at exactly start + within does NOT match). Six
    alternating rows 1 min apart under WITHIN '5' MINUTE: k=3 would
    span 5 minutes — exactly the deadline — so the kernel must emit
    k=2 (rows 0-3) and then a second match on rows 4-5."""
    rows = [(1, i, e) for i, e in enumerate([1, 2, 1, 2, 1, 2])]
    df = _events_df(spark, rows)
    f, n = _both(spark, df, BODY_WITHIN)
    assert f == n
    assert sorted(r[3] for r in f) == [1, 2]  # pairs per match


def test_within_just_inside_deadline(spark):
    """Same six rows but WITHIN '6' MINUTE: the 5-minute k=3 span now
    fits strictly inside the deadline — one maximal match."""
    body = BODY_PLAIN.replace(
        "PATTERN ((X Y)+)",
        "PATTERN ((X Y)+) WITHIN INTERVAL '6' MINUTE",
    )
    rows = [(1, i, e) for i, e in enumerate([1, 2, 1, 2, 1, 2])]
    df = _events_df(spark, rows)
    f, n = _both(spark, df, body)
    assert f == n
    assert len(f) == 1 and f[0][3] == 3


def test_within_suffix_backtracks_to_deadline(spark):
    """Suffix + WITHIN: x y x y x y z z — greedy k=3 anchored at the
    first z spans 6 minutes; WITHIN '6' forbids it (strict <), so the
    kernel must backtrack... but a shorter k anchors only where a z
    row sits, and rows 6 AND 7 are both z: k=3→z@6 spans 6' (out),
    there is no z earlier, so NO match from row 0; SKIP PAST LAST then
    finds rows 2-6 (k=2, z@6, span 4') — the deadline cap interacts
    with anchor selection exactly as the NFA resolves it."""
    rows = [(1, i, e) for i, e in enumerate([1, 2, 1, 2, 1, 2, 3, 3])]
    df = _events_df(spark, rows)
    body = BODY_SUFFIX.replace(
        "PATTERN ((X Y)+ Z)",
        "PATTERN ((X Y)+ Z) WITHIN INTERVAL '6' MINUTE",
    )
    f, n = _both(spark, df, body)
    assert f == n


def test_chain_kernel_plan_one_exchange(spark):
    """The kernel's plan: ONE hash Exchange (repartition on the key),
    predicates evaluated before it, no per-group applyInPandas."""
    df = _events_df(spark, _random_rows(3))
    out = match_recognize(df, BODY_PLAIN, tiebreak_col="event_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_strided_chain_vs_bruteforce():
    """_strided_chain against the direct recursion, random segment
    layouts and strides — pure numpy, no Spark."""
    import numpy as np

    from flink_cep_examples_spark.operators.fast_path import _strided_chain

    rng = random.Random(5)
    for trial in range(200):
        n = rng.randrange(1, 40)
        L = rng.randrange(1, 5)
        body_ok = np.array([rng.random() < 0.6 for _ in range(n)])
        # random segment layout
        seg_id = np.zeros(n, dtype=np.int64)
        cur = 0
        for i in range(1, n):
            if rng.random() < 0.15:
                cur += 1
            seg_id[i] = cur
        pos_in_seg = np.zeros(n, dtype=np.int64)
        for i in range(1, n):
            pos_in_seg[i] = pos_in_seg[i - 1] + 1 if seg_id[i] == seg_id[i - 1] else 0
        expect = np.zeros(n, dtype=np.int64)
        for t in range(n - 1, -1, -1):
            if not body_ok[t]:
                continue
            nxt = t + L
            same = nxt < n and seg_id[nxt] == seg_id[t] if nxt < n else False
            expect[t] = 1 + (expect[nxt] if same else 0)
        got = _strided_chain(body_ok, seg_id, pos_in_seg, L)
        assert (got == expect).all(), (trial, L, body_ok, seg_id, got, expect)


def test_strided_chain_suffix_vs_bruteforce():
    """_strided_chain_suffix (round 7.2) against the direct recursion
    g(t) = 1+g(t+L) if body_ok(t) ∧ g(t+L) ≥ 0 else (0 if suffix_ok(t)
    else −1) — the backtracking-greedy count for loop + fixed suffix."""
    import numpy as np

    from flink_cep_examples_spark.operators.fast_path import (
        _strided_chain_suffix,
    )

    rng = random.Random(9)
    for trial in range(200):
        n = rng.randrange(1, 40)
        L = rng.randrange(1, 5)
        body_ok = np.array([rng.random() < 0.6 for _ in range(n)])
        suffix_ok = np.array([rng.random() < 0.4 for _ in range(n)])
        seg_id = np.zeros(n, dtype=np.int64)
        cur = 0
        for i in range(1, n):
            if rng.random() < 0.15:
                cur += 1
            seg_id[i] = cur
        pos_in_seg = np.zeros(n, dtype=np.int64)
        for i in range(1, n):
            pos_in_seg[i] = (
                pos_in_seg[i - 1] + 1 if seg_id[i] == seg_id[i - 1] else 0
            )
        expect = np.full(n, -1, dtype=np.int64)
        for t in range(n - 1, -1, -1):
            nxt = t + L
            same = nxt < n and seg_id[nxt] == seg_id[t]
            if body_ok[t] and same and expect[nxt] >= 0:
                expect[t] = 1 + expect[nxt]
            elif suffix_ok[t]:
                expect[t] = 0
        got = _strided_chain_suffix(body_ok, suffix_ok, seg_id, pos_in_seg, L)
        assert (got == expect).all(), (
            trial, L, body_ok, suffix_ok, seg_id, got, expect,
        )


BODY_STAR = """
        PARTITION BY user_id ORDER BY ts, event_id
        MEASURES FIRST(A.ts) AS a_ts, LAST(Z.ts) AS z_ts,
                 FIRST(X.ts) AS x1, LAST(Y.ts) AS yl,
                 COUNT(X.*) AS pairs, MATCH_NUMBER() AS mn
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (A (X Y)* Z)
        DEFINE A AS event_id % 3 = 0, X AS event_id % 3 = 1,
               Y AS event_id % 3 = 2, Z AS event_id % 3 = 1
"""


def test_star_chain_fast_path_routes_and_agrees(spark):
    """Greedy ``(X Y)*`` with a suffix compiles to the chain kernel
    with min_iter=0 (round 7.2) instead of the 2-NFA lockstep
    coordinator; both must agree — including k = 0 matches whose
    loop-var measures are NULL/0."""
    from flink_cep_examples_spark.operators.fast_path import (
        fast_star_chain_applicable,
    )

    assert fast_star_chain_applicable(parse_match_recognize(BODY_STAR))
    for seed in (21, 22):
        df = _events_df(spark, _random_rows(seed))
        fa, nf = _both(spark, df, BODY_STAR)
        assert fa == nf
        assert fa, f"seed {seed}: no matches — test is vacuous"


def test_star_chain_empty_loop_nulls(spark):
    """Directed k = 0 coverage: A Z with no pairs must emit pairs=0 and
    NULL FIRST(X)/LAST(Y) on both tiers."""
    df = _events_df(
        spark,
        [(1, 0, 0), (1, 1, 1),  # A Z  (k=0; Z shares X's class)
         (2, 0, 0), (2, 1, 1), (2, 2, 2), (2, 3, 1)],  # A X Y Z (k=1)
    )
    fa, nf = _both(spark, df, BODY_STAR)
    assert fa == nf
    by_user = {r[0]: r for r in fa}
    assert by_user[1][3] is None and by_user[1][4] is None
    assert by_user[1][5] == 0
    assert by_user[2][5] == 1


BODY_ALL_ROWS_LOOP = """
        PARTITION BY user_id ORDER BY ts, event_id
        MEASURES COUNT(X.*) AS pairs
        ALL ROWS PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN ((X Y)+)
        DEFINE X AS event_id % 3 = 1, Y AS event_id % 3 = 2
"""


@pytest.mark.parametrize(
    "body",
    [
        BODY_ALL_ROWS_LOOP,
        BODY_ALL_ROWS_LOOP.replace("((X Y)+)", "(({- X -} Y)+)"),
        BODY_ALL_ROWS_LOOP.replace(
            "((X Y)+)", "(A (X Y)+ Z)"
        ).replace(
            "DEFINE X", "DEFINE A AS event_id % 3 = 0, Z AS event_id % 3 = 0, X"
        ),
    ],
    ids=["plain", "excl", "prefix-suffix"],
)
def test_all_rows_chain_fast_path_agrees(spark, body):
    """ALL ROWS PER MATCH on the chain kernel (round 7.2) — per-row
    emission, positional classifier, exclusion keep-mask — must match
    the NFA tier's row set exactly (order-insensitive compare; the NFA
    emits variable-major, the kernel row-major)."""
    from flink_cep_examples_spark.operators.fast_path import (
        fast_loop_chain_all_rows_applicable,
    )

    assert fast_loop_chain_all_rows_applicable(parse_match_recognize(body))
    matched = 0
    for seed in (31, 32):
        df = _events_df(spark, _random_rows(seed))
        fa, nf = _both(spark, df, body)
        assert fa == nf
        matched += len(fa)
    assert matched, "no matches across seeds — test is vacuous"


# --- round 8: EQUAL-width multi-branch groups on the chain kernel ----

BODY_BRANCHES = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES FIRST(U.ts) AS fu, LAST(U.ts) AS lu,
         COUNT(A.*) AS n_ab, COUNT(C.*) AS n_cd,
         FIRST(C.ts) AS fc, LAST(B.ts) AS lb,
         MATCH_NUMBER() AS mn, CLASSIFIER() AS cl
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((A B | C D)+)
SUBSET U = (A, B, C, D)
DEFINE A AS event_id % 5 = 1, B AS event_id % 5 = 2,
       C AS event_id % 5 = 3, D AS event_id % 5 = 4
"""

BODY_BRANCHES_WITHIN = BODY_BRANCHES.replace(
    "PATTERN ((A B | C D)+)",
    "PATTERN ((A B | C D)+) WITHIN INTERVAL '90' MINUTE",
)

BODY_BRANCHES_NEXT = BODY_BRANCHES.replace(
    "AFTER MATCH SKIP PAST LAST ROW", "AFTER MATCH SKIP TO NEXT ROW"
)

BODY_BRANCHES_SUFFIX = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES COUNT(A.*) AS n_ab, COUNT(C.*) AS n_cd, LAST(Z.ts) AS lz,
         CLASSIFIER() AS cl
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((A B | C D)+ Z)
DEFINE A AS event_id % 6 = 1, B AS event_id % 6 = 2,
       C AS event_id % 6 = 3, D AS event_id % 6 = 4,
       Z AS event_id % 6 = 5
"""

#: branch predicates OVERLAP (a chunk may satisfy both A B and C D):
#: the kernel assigns the LEFTMOST valid branch per chunk, which is
#: exactly the NFA's held preference (its per-position row-count key
#: is maximized by taking the lowest branch wherever possible —
#: choices are per-chunk independent)
BODY_BRANCHES_OVERLAP = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES COUNT(A.*) AS n_ab, COUNT(C.*) AS n_cd,
         FIRST(A.ts) AS fa, LAST(D.ts) AS ld
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((A B | C D)+)
DEFINE A AS event_id IN (1, 5), B AS event_id IN (2, 6),
       C AS event_id IN (3, 5), D AS event_id IN (4, 6)
"""


def test_branches_kernel_selected(spark):
    spec = parse_match_recognize(BODY_BRANCHES)
    assert spec.loop_branches == ((0, 1), (2, 3))
    assert fast_loop_chain_applicable(spec)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_branches_plain_matches_nfa(spark, seed):
    df = _events_df(spark, _random_rows(seed))
    f, n = _both(spark, df, BODY_BRANCHES)
    assert f == n and f


@pytest.mark.parametrize("seed", [3, 4])
def test_branches_within_matches_nfa(spark, seed):
    df = _events_df(spark, _random_rows(seed))
    f, n = _both(spark, df, BODY_BRANCHES_WITHIN)
    assert f == n and f


def test_branches_skip_to_next_matches_nfa(spark):
    df = _events_df(spark, _random_rows(5))
    f, n = _both(spark, df, BODY_BRANCHES_NEXT)
    assert f == n and f


@pytest.mark.parametrize("seed", [6, 7, 9])
def test_branches_suffix_matches_nfa(spark, seed):
    df = _events_df(spark, _random_rows(seed, n_rows=140))
    f, n = _both(spark, df, BODY_BRANCHES_SUFFIX)
    assert f == n
    if seed == 6:
        assert f  # at least one seed pins a non-empty fixture


def test_branches_overlap_matches_nfa(spark):
    # small rows: overlapping branch predicates make the NFA explore
    # every derivation (exponential in chain length)
    rng = random.Random(8)
    rows = []
    for u in range(8):
        for i in range(18):
            rows.append((u, i, rng.randrange(0, 7)))
    df = _events_df(spark, rows)
    f, n = _both(spark, df, BODY_BRANCHES_OVERLAP)
    assert f == n and f


def test_branches_exact_deadline_probe(spark):
    """Chunks at the deadline boundary: a pair completing at exactly
    start + within must NOT count (strict <), one microsecond inside
    must."""
    rows = [
        # user 0: A(t=0) B(1) C(30) D(31) -> within 90min: all inside
        (0, 0, 1), (0, 1, 2), (0, 30, 3), (0, 31, 4),
        # user 1: A(0) B(1) C(89) D(90) -> D at exactly +90min: the
        # 2nd chunk is deadline-clipped, match is the single pair
        (1, 0, 1), (1, 1, 2), (1, 89, 3), (1, 90, 4),
    ]
    df = _events_df(spark, rows)
    f, n = _both(spark, df, BODY_BRANCHES_WITHIN)
    assert f == n
    by_user = {}
    for r in f:
        by_user.setdefault(r[0], []).append(r)
    assert by_user[0][0][3:5] == (1, 1)  # n_ab=1, n_cd=1
    assert sorted(r[3:5] for r in by_user[1]) == [(0, 1), (1, 0)]


# --- round 8: group-absence kernel (timeout channel, closed form) ----

BODY_ABSENCE = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES FIRST(X.ts) AS fx, LAST(Z.ts) AS lz, COUNT(X.*) AS n_x,
         LAST(Y.ts) AS ly
ONE ROW PER MATCH
AFTER MATCH SKIP TO NEXT ROW
PATTERN ((X Y)+ Z) WITHIN INTERVAL '45' MINUTE
DEFINE X AS event_id % 4 = 1, Y AS event_id % 4 = 2,
       Z AS event_id % 4 = 3
"""

#: suffix OVERLAPS the body start (a row may satisfy both X and Z):
#: a mid-chain exit completes and is held — the kernel must pick the
#: LAST chunk-aligned suffix row, and the match channel must beat the
#: timeout channel even when the longer run expires
BODY_ABSENCE_OVERLAP = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES FIRST(X.ts) AS fx, LAST(Z.ts) AS lz, COUNT(X.*) AS n_x
ONE ROW PER MATCH
AFTER MATCH SKIP TO NEXT ROW
PATTERN ((X Y)+ Z) WITHIN INTERVAL '45' MINUTE
DEFINE X AS event_id IN (1, 5), Y AS event_id IN (2, 6),
       Z AS event_id IN (3, 5)
"""

BODY_ABSENCE_W3 = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES FIRST(X.ts) AS fx, COUNT(W.*) AS n_w, LAST(Z.ts) AS lz
ONE ROW PER MATCH
AFTER MATCH SKIP TO NEXT ROW
PATTERN ((X W Y)+ Z) WITHIN INTERVAL '2' HOUR
DEFINE X AS event_id % 5 = 1, W AS event_id % 5 = 2,
       Y AS event_id % 5 = 3, Z AS event_id % 5 = 4
"""


def _both_tagged(spark, df, body):
    fast = match_recognize(
        df, body, tiebreak_col="event_id", emit_timeouts=True
    )
    nfa = match_recognize(
        df,
        body,
        tiebreak_col="event_id",
        emit_timeouts=True,
        use_fast_path=False,
    )
    f = sorted(map(tuple, fast.collect()))
    n = sorted(map(tuple, nfa.collect()))
    return f, n


def test_group_absence_kernel_selected():
    from flink_cep_examples_spark.operators.fast_path import (
        fast_group_absence_applicable,
    )
    import dataclasses

    spec = dataclasses.replace(
        parse_match_recognize(BODY_ABSENCE), emit_timeouts=True
    )
    assert fast_group_absence_applicable(spec)
    # SKIP PAST LAST needs the advance_time walk's span discards — NFA
    past = parse_match_recognize(
        BODY_ABSENCE.replace("SKIP TO NEXT ROW", "SKIP PAST LAST ROW")
    )
    assert not fast_group_absence_applicable(
        dataclasses.replace(past, emit_timeouts=True)
    )


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_group_absence_matches_nfa(spark, seed):
    df = _events_df(spark, _random_rows(seed))
    f, n = _both_tagged(spark, df, BODY_ABSENCE)
    assert f == n and f
    tags = {r[-1] for r in f} if f else set()
    if seed == 0:
        assert tags == {"match", "timeout"}


@pytest.mark.parametrize("seed", [4, 5])
def test_group_absence_overlap_matches_nfa(spark, seed):
    rng = random.Random(seed)
    rows = []
    for u in range(8):
        for i in range(20):
            rows.append((u, i * 7, rng.randrange(0, 8)))
    df = _events_df(spark, rows)
    f, n = _both_tagged(spark, df, BODY_ABSENCE_OVERLAP)
    assert f == n


@pytest.mark.parametrize("seed", [6, 7])
def test_group_absence_w3_matches_nfa(spark, seed):
    df = _events_df(spark, _random_rows(seed, n_rows=120))
    f, n = _both_tagged(spark, df, BODY_ABSENCE_W3)
    assert f == n


def test_group_absence_exact_deadline_probe(spark):
    """Strict < at the deadline: a Z at exactly start+45min does NOT
    complete (the run expires first — timeout); one minute earlier it
    matches."""
    rows = [
        (0, 0, 1), (0, 1, 2), (0, 44, 3),   # z inside -> match
        (1, 0, 1), (1, 1, 2), (1, 45, 3),   # z at deadline -> timeout
    ]
    df = _events_df(spark, rows)
    f, n = _both_tagged(spark, df, BODY_ABSENCE)
    assert f == n
    tags = {r[0]: r[-1] for r in f}
    assert tags[0] == "match" and tags[1] == "timeout"


# --- round 8: RUNNING measures on the all-rows chain kernel ----------

BODY_ALL_ROWS_RUNNING = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES RUNNING COUNT(X.*) AS rx,
         RUNNING SUM(X.event_id) AS sx,
         RUNNING AVG(Y.event_id) AS ay,
         RUNNING LAST(Y.ts) AS rly,
         RUNNING FIRST(Y.ts) AS rfy,
         RUNNING CLASSIFIER() AS rcl,
         COUNT(X.*) AS pairs
ALL ROWS PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((X Y)+)
DEFINE X AS event_id % 3 = 1, Y AS event_id % 3 = 2
"""

BODY_ALL_ROWS_RUNNING_PFX = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES RUNNING COUNT(B.*) AS rb, RUNNING SUM(C.event_id) AS sc,
         RUNNING LAST(A.ts) AS rla
ALL ROWS PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN (A (B C)+)
DEFINE A AS event_id % 3 = 0,
       B AS event_id % 3 = 1, C AS event_id % 3 = 2
"""


def _both_all_rows(spark, df, body):
    fast = match_recognize(df, body, tiebreak_col="event_id")
    nfa = match_recognize(
        df, body, tiebreak_col="event_id", use_fast_path=False
    )
    # row SETS compared (emission order differs between tiers)
    f = sorted(map(tuple, fast.collect()))
    n = sorted(map(tuple, nfa.collect()))
    return f, n


def test_all_rows_running_kernel_selected(spark):
    from flink_cep_examples_spark.operators.fast_path import (
        fast_loop_chain_all_rows_applicable,
    )

    spec = parse_match_recognize(BODY_ALL_ROWS_RUNNING)
    df0 = _events_df(spark, _random_rows(0))
    # round 12: RUNNING SUM/AVG need the dtype check — df required
    # (the decimal float64-fold hazard routes to the NFA tier now)
    assert not fast_loop_chain_all_rows_applicable(spec)
    assert fast_loop_chain_all_rows_applicable(spec, df0)
    # RUNNING MIN/MAX (round 12): compiled segmented extrema — but
    # only when the dtype is checkable and plain numeric
    spec_min = parse_match_recognize(
        BODY_ALL_ROWS_RUNNING.replace(
            "RUNNING SUM(X.event_id) AS sx",
            "RUNNING MIN(X.event_id) AS sx",
        )
    )
    assert not fast_loop_chain_all_rows_applicable(spec_min)  # no df


def test_all_rows_running_minmax_dtype_gate(spark):
    """RUNNING MIN/MAX compile for plain-numeric sources only; a
    DECIMAL source keeps the NFA tier's exact pandas reductions."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.operators.fast_path import (
        fast_loop_chain_all_rows_applicable,
    )

    spec_min = parse_match_recognize(
        BODY_ALL_ROWS_RUNNING.replace(
            "RUNNING SUM(X.event_id) AS sx",
            "RUNNING MIN(X.event_id) AS sx",
        )
    )
    df = _events_df(spark, _random_rows(0))
    assert fast_loop_chain_all_rows_applicable(spec_min, df)
    dec = df.withColumn(
        "event_id", F.col("event_id").cast("decimal(20,2)")
    )
    assert not fast_loop_chain_all_rows_applicable(spec_min, dec)


def test_decimal_running_folds_exactly_on_nfa_tier(spark):
    """Round 13 (probe finding): the dtype gate routes DECIMAL RUNNING
    aggregates to the NFA tier, but that tier's running walk seeded
    its sum accumulator with float 0.0 — ``0.0 + Decimal`` raised
    TypeError, so the very queries the gate protects CRASHED instead
    of folding exactly. Pin: the accumulator lazy-inits from the first
    value, DECIMAL sums stay exact until the one double conversion at
    the field boundary (0.1+0.1+0.1 = 0.3 exactly, not
    0.30000000000000004), MIN/MAX keep the decimal type, AVG divides
    the exact sum once."""
    import decimal

    from datetime import timedelta

    rows = [
        # one match per key: A(1) B(2) B(2) B(2) C(3)
        (1, i, e, v)
        for i, (e, v) in enumerate(
            [(1, "5.0"), (2, "0.1"), (2, "0.1"), (2, "0.1"), (3, "9.0")]
        )
    ]
    df = spark.createDataFrame(
        [
            (u, BASE + timedelta(minutes=mo), e, decimal.Decimal(v))
            for u, mo, e, v in rows
        ],
        "user_id long, ts timestamp, event_id long, value decimal(18,6)",
    )
    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES RUNNING SUM(B.value) AS rsum, RUNNING AVG(B.value) AS ravg,
             RUNNING MIN(B.value) AS rmin, RUNNING MAX(B.value) AS rmax
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (A B+ C)
    DEFINE A AS event_id = 1, B AS event_id = 2, C AS event_id = 3
    """
    from flink_cep_examples_spark.operators.fast_path import (
        fast_loop_chain_all_rows_applicable,
    )

    spec = parse_match_recognize(body)
    assert not fast_loop_chain_all_rows_applicable(spec, df)  # NFA tier
    out = sorted(
        (r.event_id, r.rsum, r.ravg, r.rmin, r.rmax)
        for r in match_recognize(df, body, tiebreak_col="event_id").collect()
    )
    d = decimal.Decimal
    assert out == [
        (1, None, None, None, None),
        (2, 0.1, 0.1, d("0.1"), d("0.1")),
        (2, 0.2, 0.1, d("0.1"), d("0.1")),
        (2, 0.3, 0.1, d("0.1"), d("0.1")),  # exact: NOT 0.30000000000000004
        (3, 0.3, 0.1, d("0.1"), d("0.1")),
    ]


def test_decimal_running_streams_exactly(spark, tmp_path):
    """The streaming twin of the decimal RUNNING fix: the emit walk's
    accumulator had the same float-0.0 seed; a decimal-valued RUNNING
    SUM must stream (not crash) and agree with batch bit-for-bit."""
    import decimal
    import time

    from datetime import timedelta

    rows = [
        (1, i, e, decimal.Decimal(v))
        for i, (e, v) in enumerate(
            [(1, "5.0"), (2, "0.1"), (2, "0.1"), (2, "0.1"), (3, "9.0")]
        )
    ] + [(1, 999999, 4, decimal.Decimal("0"))]  # watermark sentinel
    df = spark.createDataFrame(
        [(u, BASE + timedelta(minutes=mo), e, v) for u, mo, e, v in rows],
        "user_id long, ts timestamp, event_id long, value decimal(18,6)",
    )
    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES RUNNING SUM(B.value) AS rsum
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (A B+ C)
    DEFINE A AS event_id = 1, B AS event_id = 2, C AS event_id = 3
    """
    batch = sorted(
        (r.event_id, r.rsum)
        for r in match_recognize(df, body, tiebreak_col="event_id").collect()
    )
    src = str(tmp_path / "dec_running")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = match_recognize(
        stream, body, tiebreak_col="event_id", watermark_delay="6 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("dec_running_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    time.sleep(0.2)
    got = sorted(
        (r.event_id, r.rsum)
        for r in spark.sql("SELECT * FROM dec_running_stream").collect()
    )
    assert got == batch
    assert (2, 0.3) in got  # the exact fold survived the double field


BODY_ALL_ROWS_EXTREMA = BODY_ALL_ROWS_RUNNING.replace(
    "RUNNING SUM(X.event_id) AS sx",
    "RUNNING SUM(X.event_id) AS sx,\n"
    "         RUNNING MIN(X.event_id) AS mnx,\n"
    "         RUNNING MAX(Y.event_id) AS mxy",
)


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_all_rows_running_extrema_matches_nfa(spark, seed):
    """Round 12: RUNNING MIN/MAX on the all-rows chain kernel — the
    segmented cummax/cummin must equal the NFA tier's running walk
    exactly (NULL-skipping, empty prefix NULL), alongside the round-8
    running battery."""
    from flink_cep_examples_spark.operators.fast_path import (
        fast_loop_chain_all_rows_applicable,
    )

    df = _events_df(spark, _random_rows(seed))
    assert fast_loop_chain_all_rows_applicable(
        parse_match_recognize(BODY_ALL_ROWS_EXTREMA), df
    )
    f, n = _both_all_rows(spark, df, BODY_ALL_ROWS_EXTREMA)
    assert f == n and f


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_all_rows_running_matches_nfa(spark, seed):
    df = _events_df(spark, _random_rows(seed))
    f, n = _both_all_rows(spark, df, BODY_ALL_ROWS_RUNNING)
    assert f == n and f


@pytest.mark.parametrize("seed", [3, 4])
def test_all_rows_running_prefix_matches_nfa(spark, seed):
    df = _events_df(spark, _random_rows(seed))
    f, n = _both_all_rows(spark, df, BODY_ALL_ROWS_RUNNING_PFX)
    assert f == n and f


# --- round 11: FINAL aggregates on the chain kernel ----------------------


BODY_AGG = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES FIRST(X.ts) AS fx, SUM(X.event_id) AS sx,
         AVG(Y.event_id) AS ay, MIN(Y.event_id) AS my,
         COUNT(X.event_id) AS nx, COUNT(X.*) AS pairs
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((X Y)+ Z)
DEFINE X AS event_id % 3 = 1, Y AS event_id % 3 = 2,
       Z AS event_id % 3 = 0
"""

BODY_BRANCH_AGG = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES SUM(A.event_id) AS sa, MIN(B.event_id) AS mb,
         SUM(C.event_id) AS sc, COUNT(D.*) AS nd
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((A B | C D)+)
DEFINE A AS event_id % 5 = 1, B AS event_id % 5 = 2,
       C AS event_id % 5 = 3, D AS event_id % 5 = 4
"""


@pytest.mark.parametrize("seed", [3, 17])
def test_chain_kernel_aggregates_match_nfa(spark, seed):
    """FINAL aggregates compile on the chain kernel since round 11
    (prefix/suffix: positional row; single-body loop vars: stride-L
    slice) — per-match pandas reductions, bit-equal to the NFA
    evaluator."""
    spec = parse_match_recognize(BODY_AGG)
    assert fast_loop_chain_applicable(spec)
    df = _events_df(spark, _random_rows(seed))
    f, n = _both(spark, df, BODY_AGG)
    assert f == n
    assert f, "fixture must exercise matches"


@pytest.mark.parametrize("seed", [5, 23])
def test_chain_kernel_branch_aggregates_match_nfa(spark, seed):
    """Aggregates over EQUAL-WIDTH branch-group vars: the kernel
    selects body rows by the var's own predicate — exact because the
    dispatcher verified group-predicate disjointness on the data
    (fast_group_preds_disjoint); the NFA's classify path is the
    differential oracle. This was the 4x-at-10x NFA-only shape
    (cep_group_alt_agg) — now 2.2x on the kernel."""
    from flink_cep_examples_spark.operators.fast_path import (
        fast_group_preds_disjoint,
        loop_chain_agg_needs_disjoint,
    )

    spec = parse_match_recognize(BODY_BRANCH_AGG)
    assert fast_loop_chain_applicable(spec)
    assert loop_chain_agg_needs_disjoint(spec)
    rng = random.Random(seed)
    rows = [
        (u, i, rng.choice([1, 2, 3, 4, 1, 2, 3, 4, 0]))
        for u in range(6)
        for i in range(rng.randrange(50, 90))
    ]
    df = _events_df(spark, rows)
    assert fast_group_preds_disjoint(df, spec)

    def norm(rows_):
        # NULL branch aggregates sort against ints otherwise
        return sorted(
            tuple((v is None, v) for v in r) for r in rows_
        )

    fast = match_recognize(df, BODY_BRANCH_AGG, tiebreak_col="event_id")
    nfa = match_recognize(
        df, BODY_BRANCH_AGG, tiebreak_col="event_id", use_fast_path=False
    )
    f = norm(map(tuple, fast.collect()))
    n = norm(map(tuple, nfa.collect()))
    assert f == n
    assert f, "fixture must exercise matches"


def test_chain_kernel_branch_agg_overlap_routes_to_nfa(spark):
    """Overlapping group predicates fail the data-verified disjointness
    gate: the dispatcher routes to the NFA tier, whose classify path
    raises its named ambiguity reject — behavior identical to
    pre-kernel rounds."""
    from flink_cep_examples_spark.operators.fast_path import (
        fast_group_preds_disjoint,
    )

    body = BODY_BRANCH_AGG.replace(
        "A AS event_id % 5 = 1", "A AS event_id % 5 IN (1, 2)"
    )
    spec = parse_match_recognize(body)
    rows = [(1, i, e) for i, e in enumerate([1, 2, 3, 4, 1, 2])]
    df = _events_df(spark, rows)
    assert not fast_group_preds_disjoint(df, spec)
    out = match_recognize(df, body, tiebreak_col="event_id")
    with pytest.raises(Exception, match="pairwise-disjoint"):
        out.collect()


BODY_ALL_ROWS_UNION_RUNNING = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES RUNNING COUNT(U.*) AS ru,
         RUNNING SUM(U.event_id) AS su,
         RUNNING AVG(U.event_id) AS au,
         RUNNING MIN(U.event_id) AS mnu,
         RUNNING MAX(U.event_id) AS mxu,
         RUNNING FIRST(U.ts) AS fu,
         RUNNING LAST(U.ts) AS lu,
         COUNT(X.*) AS pairs
ALL ROWS PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((X Y)+)
SUBSET U = (X, Y)
DEFINE X AS event_id % 3 = 1, Y AS event_id % 3 = 2
"""


def test_all_rows_union_running_kernel_selected(spark):
    """Round 12: the FULL RUNNING battery over SUBSET unions compiles
    (membership-mask segmented cumsum/extrema; FIRST/LAST via the
    running member-index gather); decimal aggregation stays NFA."""
    from flink_cep_examples_spark.operators.fast_path import (
        fast_loop_chain_all_rows_applicable,
    )

    df0 = _events_df(spark, _random_rows(0))
    spec = parse_match_recognize(BODY_ALL_ROWS_UNION_RUNNING)
    assert fast_loop_chain_all_rows_applicable(spec, df0)
    from pyspark.sql import functions as F

    dec = df0.withColumn(
        "event_id", F.col("event_id").cast("decimal(20,2)")
    )
    # decimal union aggregation: exact pandas reductions, NFA tier
    assert not fast_loop_chain_all_rows_applicable(spec, dec)


@pytest.mark.parametrize("seed", [21, 22, 23])
def test_all_rows_union_running_matches_nfa(spark, seed):
    """Union RUNNING battery fast-vs-NFA differential: the membership
    mask must see BOTH variables' rows (a single-var offset walk would
    halve the counts) and the extrema must carry across iterations."""
    df = _events_df(spark, _random_rows(seed))
    f, n = _both_all_rows(spark, df, BODY_ALL_ROWS_UNION_RUNNING)
    assert f == n and f


BODY_ALL_ROWS_UNION_EXCL = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES RUNNING COUNT(U.*) AS ru,
         RUNNING LAST(U.event_id) AS lu,
         RUNNING MAX(U.event_id) AS mxu,
         COUNT(X.*) AS pairs
ALL ROWS PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN (({- X -} Y)+)
SUBSET U = (X, Y)
DEFINE X AS event_id % 3 = 1, Y AS event_id % 3 = 2
"""


@pytest.mark.parametrize("seed", [41, 42])
def test_all_rows_union_running_with_exclusion_matches_nfa(spark, seed):
    """Round 12: excluded {- X -} rows emit nothing but still advance
    the union's running count/last/max (SQL:2016 — the running series
    is computed PRE-keep); kernel and NFA must agree exactly."""
    df = _events_df(spark, _random_rows(seed))
    f, n = _both_all_rows(spark, df, BODY_ALL_ROWS_UNION_EXCL)
    assert f == n and f
    # the excluded X rows' contribution is visible: on some emitted Y
    # row the union count exceeds the count of emitted rows so far
    # (X advanced it invisibly)
    assert any(r for r in f if r[-4] and r[-4] >= 2)
