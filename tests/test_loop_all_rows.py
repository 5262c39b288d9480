"""ALL ROWS PER MATCH for unbounded loop groups (round 7 — VERDICT r6
items 3 and 5): per-row emission with positional classification
(operators/cep_batch.py::match_pattern stride-L
reconstruction) and {- var -} exclusion inside the group.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from flink_cep_examples_spark.sql.match_recognize import (
    match_recognize,
    parse_match_recognize,
)

BASE = datetime(2024, 1, 1)


def _df(spark, events):
    return spark.createDataFrame(
        [
            (1, BASE + timedelta(minutes=i), e)
            for i, e in enumerate(events)
        ],
        "user_id long, ts timestamp, event_id long",
    )


BODY = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES COUNT(X.*) AS pairs
ALL ROWS PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((X Y)+)
DEFINE X AS event_id % 3 = 1, Y AS event_id % 3 = 2
"""


def test_loop_group_all_rows_hand_sequence(spark):
    """x y x y y x y → match 0 covers rows 0-3 (2 pairs, classifiers
    X Y X Y in row order), row 4 breaks the chain, rows 5-6 are match
    1."""
    out = match_recognize(_df(spark, [1, 2, 1, 2, 2, 1, 2]), BODY,
                          tiebreak_col="event_id")
    rows = sorted(out.collect(), key=lambda r: r["ts"])
    got = [(r["event_id"], r["classifier"], r["match_seq"], r["pairs"])
           for r in rows]
    assert got == [
        (1, "X", 0, 2), (2, "Y", 0, 2), (1, "X", 0, 2), (2, "Y", 0, 2),
        (1, "X", 1, 1), (2, "Y", 1, 1),
    ]


def test_loop_group_all_rows_triple_body(spark):
    """(X Y Z)+ with 2 iterations: classifiers cycle X Y Z X Y Z."""
    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES COUNT(Z.*) AS iters
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN ((X Y Z)+)
    DEFINE X AS event_id % 4 = 1, Y AS event_id % 4 = 2,
           Z AS event_id % 4 = 3
    """
    out = match_recognize(
        _df(spark, [1, 2, 3, 1, 2, 3, 0]), body, tiebreak_col="event_id"
    )
    rows = sorted(out.collect(), key=lambda r: r["ts"])
    assert [r["classifier"] for r in rows] == ["X", "Y", "Z", "X", "Y", "Z"]
    assert {r["iters"] for r in rows} == {2}
    assert {r["match_seq"] for r in rows} == {0}


def test_loop_group_exclusion_all_rows(spark):
    """({- X -} Y)+: identical match shape, only Y rows emitted."""
    body = BODY.replace("PATTERN ((X Y)+)", "PATTERN (({- X -} Y)+)")
    out = match_recognize(_df(spark, [1, 2, 1, 2, 2, 1, 2]), body,
                          tiebreak_col="event_id")
    rows = sorted(out.collect(), key=lambda r: r["ts"])
    got = [(r["event_id"], r["classifier"], r["match_seq"], r["pairs"])
           for r in rows]
    assert got == [(2, "Y", 0, 2), (2, "Y", 0, 2), (2, "Y", 1, 1)]


def test_loop_group_all_rows_with_prefix(spark):
    """A (B C)+: prefix row classifies A (stride 1), body rows cycle."""
    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES COUNT(B.*) AS bs
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (A (B C)+)
    DEFINE A AS event_id % 3 = 0,
           B AS event_id % 3 = 1, C AS event_id % 3 = 2
    """
    out = match_recognize(
        _df(spark, [0, 1, 2, 1, 2, 0]), body, tiebreak_col="event_id"
    )
    rows = sorted(out.collect(), key=lambda r: r["ts"])
    assert [r["classifier"] for r in rows] == ["A", "B", "C", "B", "C"]
    assert {r["bs"] for r in rows} == {2}


def test_running_count_over_loop_group(spark):
    """Round 8 (r7's FINAL-only gap): RUNNING COUNT(X.*) over
    ``(X Y)+`` ALL ROWS walks the var's ACTUAL stride-2 rows — x y x y
    yields 1, 1, 2, 2 — not the merged contiguous span (which would
    count the Y rows too: 1, 2, 2, 3... wrong)."""
    out = match_recognize(
        _df(spark, [1, 2, 1, 2]),
        BODY.replace("COUNT(X.*) AS pairs",
                     "RUNNING COUNT(X.*) AS rx, COUNT(X.*) AS pairs"),
        tiebreak_col="event_id",
    )
    rows = sorted(out.collect(), key=lambda r: r["ts"])
    assert [r["rx"] for r in rows] == [1, 1, 2, 2]
    assert {r["pairs"] for r in rows} == {2}


def test_running_sum_over_loop_group(spark):
    """RUNNING SUM(X.event_id) over (X Y)+ with event ids 1 2 4 5
    (classes 1 2 1 2 mod 3): X rows are ids 1 and 4 → running sums
    1, 1, 5, 5; the Y rows' ids (2, 5) never leak in."""
    out = match_recognize(
        _df(spark, [1, 2, 4, 5]),
        BODY.replace("COUNT(X.*) AS pairs",
                     "RUNNING SUM(X.event_id) AS sx, COUNT(X.*) AS pairs"),
        tiebreak_col="event_id",
    )
    rows = sorted(out.collect(), key=lambda r: r["ts"])
    assert [r["sx"] for r in rows] == [1, 1, 5, 5]


def test_final_aggregate_over_loop_var_one_row(spark):
    """FINAL SUM/AVG/MIN/MAX over a loop-group var (round 8 — was a
    loud reject): SUM(X.event_id) on ids 1 2 4 5 = 1 + 4 = 5, and
    SUM(Y.event_id) = 2 + 5 = 7 — stride-2 slices, not the merged
    span (sum 12)."""
    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES SUM(X.event_id) AS sx, SUM(Y.event_id) AS sy,
             MAX(X.event_id) AS mx
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN ((X Y)+)
    DEFINE X AS event_id % 3 = 1, Y AS event_id % 3 = 2
    """
    rows = match_recognize(
        _df(spark, [1, 2, 4, 5]), body, tiebreak_col="event_id"
    ).collect()
    assert len(rows) == 1
    assert (rows[0]["sx"], rows[0]["sy"], rows[0]["mx"]) == (5, 7, 4)


def test_aggregate_over_multi_branch_group_validates():
    # round 10: aggregates over multi-branch group vars VALIDATE (the
    # row set reconstructs per row from the branch predicates; see
    # tests/test_group_alt_loop.py for the value-level differential)
    parse_match_recognize(
        """
        PARTITION BY user_id ORDER BY ts, event_id
        MEASURES SUM(A.event_id) AS sa
        ONE ROW PER MATCH
        PATTERN ((A B | C D)+)
        DEFINE A AS event_id % 5 = 1, B AS event_id % 5 = 2,
               C AS event_id % 5 = 3, D AS event_id % 5 = 4
        """
    ).validate()


def test_all_rows_consistent_with_one_row(spark):
    """Row count per match in ALL ROWS = 2 × pairs of the ONE ROW
    twin; same match partitioning."""
    import random

    rng = random.Random(11)
    events = [rng.randrange(0, 5) for _ in range(120)]
    df = _df(spark, events)
    all_rows = match_recognize(df, BODY, tiebreak_col="event_id").collect()
    one_row = match_recognize(
        df,
        BODY.replace("ALL ROWS PER MATCH", "ONE ROW PER MATCH"),
        tiebreak_col="event_id",
    ).collect()
    assert len(one_row) > 0
    from collections import Counter

    per_match = Counter(r["match_seq"] for r in all_rows)
    pairs_by_match = {}
    for r in all_rows:
        pairs_by_match[r["match_seq"]] = r["pairs"]
    assert len(per_match) == len(one_row)
    for seq, cnt in per_match.items():
        assert cnt == 2 * pairs_by_match[seq]
    assert sorted(r["pairs"] for r in one_row) == sorted(
        pairs_by_match.values()
    )


def test_exclusion_around_group_all_rows(spark):
    """``{- (X Y)+ -} Z`` (round 8 — was a loud reject): exclusion
    AROUND the group equals excluding every body variable; ALL ROWS
    emits only the Z row while the match shape (and measures) still
    cover the chain."""
    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES COUNT(X.*) AS pairs
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN ({- (X Y)+ -} Z)
    DEFINE X AS event_id % 3 = 1, Y AS event_id % 3 = 2,
           Z AS event_id % 3 = 0
    """
    spec = parse_match_recognize(body)
    assert spec.loop_groups == ((0, 1),)
    assert [v.excluded for v in spec.variables] == [True, True, False]
    out = match_recognize(
        _df(spark, [1, 2, 1, 2, 0]), body, tiebreak_col="event_id"
    )
    rows = out.collect()
    assert [(r["classifier"], r["pairs"]) for r in rows] == [("Z", 2)]
    # NFA-tier agreement
    nfa = match_recognize(
        _df(spark, [1, 2, 1, 2, 0]), body, tiebreak_col="event_id",
        use_fast_path=False,
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, nfa))


# --- RUNNING/agg/niladic measures on A B* C ALL ROWS PER MATCH -----------


def test_abc_all_rows_extended_measures_match_nfa(spark):
    """The full extended-measure battery on A B* C ALL ROWS PER MATCH
    through the tier table must equal the NFA reference bit-for-bit,
    including NULL source values (RUNNING FIRST/LAST keep a NULL row's
    value; SUM/AVG/MIN/MAX/COUNT(col) skip NULLs)."""
    import random
    from datetime import datetime, timedelta

    # NULLs live in a measured-only column (score)
    body = """
    PARTITION BY id ORDER BY event_time, seq
    MEASURES
      RUNNING COUNT(B.*) AS b_so_far,
      RUNNING SUM(B.score) AS sum_b_so_far,
      RUNNING AVG(B.score) AS avg_b_so_far,
      RUNNING MIN(B.score) AS min_b,
      RUNNING MAX(B.score) AS max_b,
      RUNNING COUNT(B.score) AS nb_vals,
      FINAL COUNT(B.*) AS n_b,
      FINAL SUM(B.score) AS sum_b,
      RUNNING CLASSIFIER() AS cls,
      MATCH_NUMBER() AS mn,
      FIRST(A.score) AS a_sc,
      LAST(C.score) AS c_sc,
      RUNNING LAST(C.score) AS c_run
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (A B* C) WITHIN INTERVAL '1' HOUR
    DEFINE
      A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
      B AS B.balanceBefore >= B.balanceAfter,
      C AS C.balanceBefore < C.balanceAfter
    """
    rng = random.Random(42)
    base = datetime(2020, 5, 1)
    rows = []
    for k in range(8):
        t = 0
        for i in range(rng.randrange(60, 100)):
            t += rng.randrange(1, 9)
            bb = rng.uniform(0, 30)
            ba = rng.choice(
                [rng.uniform(0, 30), bb - rng.uniform(0, 5)]
            )
            score = None if rng.random() < 0.3 else round(
                rng.uniform(0, 12), 2
            )
            rows.append(
                (
                    f"k{k}",
                    base + timedelta(minutes=t),
                    i,
                    round(bb, 2),
                    round(ba, 2),
                    score,
                )
            )
    df = spark.createDataFrame(
        rows,
        "id string, event_time timestamp, seq long, "
        "balanceBefore double, balanceAfter double, score double",
    )

    def norm(r):
        return tuple(
            round(v, 6) if isinstance(v, float) else v for v in r
        )

    fast = sorted(norm(tuple(r)) for r in match_recognize(df, body).collect())
    nfa = sorted(
        norm(tuple(r))
        for r in match_recognize(df, body, use_fast_path=False).collect()
    )
    assert fast and fast == nfa


def test_abc_all_rows_null_predicate_rows_decline_kernel(spark):
    """A NULL in a PREDICATE column makes both B and C false on that
    row, so the null row BREAKS strict contiguity: a closed form that
    pairs a segment's A with its C would match through it."""
    from datetime import datetime, timedelta

    body = """
    PARTITION BY id ORDER BY event_time, seq
    MEASURES FINAL COUNT(B.*) AS n_b
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (A B* C)
    DEFINE
      A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
      B AS B.balanceBefore >= B.balanceAfter,
      C AS C.balanceBefore < C.balanceAfter
    """
    base = datetime(2020, 5, 1)
    rows = [
        ("k", base + timedelta(minutes=0), 0, 13.0, 9.0),   # A
        ("k", base + timedelta(minutes=1), 1, 9.0, None),   # null: not B, not C
        ("k", base + timedelta(minutes=2), 2, 5.0, 20.0),   # C
        ("k", base + timedelta(minutes=3), 3, 13.0, 9.0),   # A
        ("k", base + timedelta(minutes=4), 4, 9.0, 20.0),   # C
    ]
    df = spark.createDataFrame(
        rows,
        "id string, event_time timestamp, seq long, "
        "balanceBefore double, balanceAfter double",
    )
    got = sorted(
        (r.seq, r.classifier, r.n_b)
        for r in match_recognize(df, body).collect()
    )
    # the null row breaks strict contiguity: only the second A-C pair
    # matches (the naive segment closed form would have matched the
    # first A through the null row)
    assert got == [(3, "A", 0), (4, "C", 0)]
