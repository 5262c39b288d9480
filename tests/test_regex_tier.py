"""The regex tier (operators/regex_scan.py) against the NFA reference.

``run_pattern`` must pick the ``regex`` row for every shape below and
return exactly what ``match_pattern`` (the NFA) returns, on small random
data with NULL predicate values, timestamp ties broken by a NULL-bearing
tiebreak, NULL and NaN float keys and NaN measure values, with Arrow
batches of 3 rows (the tier encodes a batch as one string, so key
groups straddle batches) and at the default batch size. Hand-built
cases pin the ``WITHIN`` boundary: a completion at exactly ``start +
within`` is dropped, and a greedy completion that overruns the deadline
gives way to a shorter one that fits."""

from __future__ import annotations

import random
from contextlib import contextmanager
from datetime import datetime, timedelta

import pytest

from flink_cep_examples_spark.operators.cep_batch import match_pattern
from flink_cep_examples_spark.operators.planner import choose_tier, run_pattern
from flink_cep_examples_spark.plans.pattern import NO_SKIP, Measure, Pattern
from flink_cep_examples_spark.sql.match_recognize import parse_match_recognize

_BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
_T0 = datetime(2024, 1, 1)
_SCHEMA = "k double, ts timestamp, seq long, p long, v double"


@contextmanager
def _arrow_batches(spark, n):
    if n is not None:
        spark.conf.set(_BATCH_CONF, str(n))
    try:
        yield
    finally:
        spark.conf.unset(_BATCH_CONF)


def _random_frame(spark, seed):
    """Four keys (1.0, 2.0, NaN, NULL) of 20-30 rows: minutes advance by
    0-2 (ties), ``seq`` is NULL on about one row in eight, ``p`` (the
    predicates' operand) NULL on about one in ten, ``v`` NULL or NaN on
    about one in eight each."""
    rng = random.Random(seed)
    rows = []
    for k in (1.0, 2.0, float("nan"), None):
        minute = 0
        for i in range(rng.randrange(20, 30)):
            minute += rng.choice((0, 0, 1, 1, 2))
            r = rng.random()
            v = None if r < 0.12 else float("nan") if r < 0.25 else float(i % 7)
            rows.append((
                k,
                _T0 + timedelta(minutes=minute),
                None if rng.random() < 0.12 else rng.randrange(1000),
                None if rng.random() < 0.1 else rng.randrange(6),
                v,
            ))
    return spark.createDataFrame(rows, _SCHEMA)


def _body(pattern, skip, measures, define, rows="ONE ROW PER MATCH"):
    return f"""
    PARTITION BY k ORDER BY ts, seq
    MEASURES {measures}
    {rows}
    AFTER MATCH {skip}
    PATTERN {pattern}
    DEFINE {define}
    """


_ABC = "A AS p % 3 = 0, B AS p % 3 = 1, C AS p % 3 = 2"
_XYZ = "X AS p % 3 = 1, Y AS p % 3 = 2, Z AS p % 3 = 0"
_ACD = "A AS p % 5 = 1, C AS p % 5 = 3, D AS p % 5 = 4"
_AGG = "SUM(B.v) AS s, MIN(B.v) AS lo, MAX(B.v) AS hi, AVG(B.v) AS av, COUNT(B.v) AS n"

#: one shape per (derivation, skip mode) the tier accepts
SQL_CASES = {
    # eager, one quantified variable: leftmost, lazy, per-start endpos
    "eager_past_last_within": _body(
        "(A B* C) WITHIN INTERVAL '3' MINUTE", "SKIP PAST LAST ROW",
        f"FIRST(A.v) AS fa, LAST(C.v) AS lc, {_AGG}, MATCH_NUMBER() AS mn",
        "A AS p < 3, B AS p >= 1, C AS p >= 4",
    ),
    "eager_to_next": _body(
        "(A B+ C)", "SKIP TO NEXT ROW",
        f"FIRST(A.seq) AS fa, {_AGG}, CLASSIFIER() AS cl, MATCH_NUMBER() AS mn",
        "A AS p < 3, B AS p >= 1, C AS p >= 4",
    ),
    "eager_to_last": _body(
        "(A B{2} C)", "SKIP TO LAST B",
        "FIRST(A.seq) AS fa, LAST(C.seq) AS lc, MATCH_NUMBER() AS mn",
        "A AS p < 4, B AS p >= 1, C AS p >= 2",
    ),
    "eager_to_first": _body(
        "(A B? C) WITHIN INTERVAL '2' MINUTE", "SKIP TO FIRST C",
        "FIRST(A.seq) AS fa, COUNT(B.*) AS nb, MATCH_NUMBER() AS mn",
        "A AS p < 4, B AS p >= 1, C AS p >= 2",
    ),
    # longest, one loop group: greedy, backtracking to the suffix
    "longest_past_last_within": _body(
        "((X Y)+) WITHIN INTERVAL '4' MINUTE", "SKIP PAST LAST ROW",
        "FIRST(X.seq) AS fx, LAST(Y.seq) AS ly, COUNT(X.*) AS n, "
        "SUM(Y.v) AS sy, MATCH_NUMBER() AS mn",
        "X AS p % 2 = 1, Y AS p > 1",
    ),
    "longest_suffix_to_next": _body(
        "((X Y)+ Z)", "SKIP TO NEXT ROW",
        "FIRST(X.seq) AS fx, LAST(Z.seq) AS lz, COUNT(Y.*) AS n, "
        "MATCH_NUMBER() AS mn",
        _XYZ,
    ),
    # longest, symbol-forced: nested and branch groups
    "nested_within": _body(
        "(((A B)+ C)+) WITHIN INTERVAL '9' MINUTE", "SKIP PAST LAST ROW",
        "FIRST(A.seq) AS fa, LAST(C.seq) AS lc, COUNT(A.*) AS na, "
        "MIN(B.v) AS mb, MATCH_NUMBER() AS mn",
        _ABC,
    ),
    "branches_agg": _body(
        "((A | C D)+)", "SKIP PAST LAST ROW",
        "FIRST(U.seq) AS fu, LAST(U.seq) AS lu, SUM(A.v) AS sa, "
        "MAX(D.v) AS md, COUNT(C.*) AS nc",
        _ACD,
    ).replace("DEFINE", "SUBSET U = (A, C, D) DEFINE"),
    "branches_to_next": _body(
        "((A | C D)+)", "SKIP TO NEXT ROW",
        "FIRST(U.seq) AS fu, COUNT(A.*) AS na, MATCH_NUMBER() AS mn",
        _ACD,
    ).replace("DEFINE", "SUBSET U = (A, C, D) DEFINE"),
    # a row of two branch predicates: its key group runs on the NFA
    "branches_overlap": _body(
        "((A | C D)+)", "SKIP PAST LAST ROW",
        "FIRST(U.seq) AS fu, LAST(U.seq) AS lu, COUNT(A.*) AS na, "
        "COUNT(C.*) AS nc, MATCH_NUMBER() AS mn",
        "A AS p IN (1, 2), C AS p IN (2, 3), D AS p = 4",
    ).replace("DEFINE", "SUBSET U = (A, C, D) DEFINE"),
    # alternations: eager shortest-first, leftmost listed order
    "eager_alternation": _body(
        "(A C | A B{2})", "SKIP TO NEXT ROW",
        "FIRST(A.seq) AS fa, CLASSIFIER() AS cl, MATCH_NUMBER() AS mn",
        "A AS p < 3, B AS p >= 1, C AS p >= 4",
    ),
    "leftmost_group_alternation": _body(
        "((A B | C){2})", "SKIP TO NEXT ROW",
        "FIRST(A.seq) AS fa, FIRST(C.seq) AS fc, COUNT(A.*) AS na",
        _ABC,
    ),
    "leftmost_star": _body(
        "(A (X Y)* Z)", "SKIP PAST LAST ROW",
        "FIRST(A.seq) AS fa, LAST(Z.seq) AS lz, COUNT(X.*) AS n, "
        "MATCH_NUMBER() AS mn",
        "A AS p = 0, X AS p % 2 = 1, Y AS p > 1, Z AS p % 2 = 1",
    ),
    "permute": _body(
        "(PERMUTE (A, B, C))", "SKIP TO NEXT ROW",
        "FIRST(A.seq) AS fa, LAST(C.seq) AS lc",
        "A AS p < 2, B AS p % 2 = 1, C AS p >= 3",
    ),
    # ALL ROWS: FINAL and RUNNING measures over a NaN-bearing source
    "all_rows_nested": _body(
        "(((A B)+ C)+)", "SKIP PAST LAST ROW",
        "RUNNING SUM(B.v) AS rs, RUNNING MIN(B.v) AS rmin, "
        "FINAL MAX(B.v) AS fmax, FINAL COUNT(A.*) AS na",
        _ABC, rows="ALL ROWS PER MATCH",
    ),
    "all_rows_eager": _body(
        "(A B* C) WITHIN INTERVAL '3' MINUTE", "SKIP PAST LAST ROW",
        "RUNNING SUM(B.v) AS rs, RUNNING MAX(B.v) AS rmax, FINAL AVG(B.v) AS fa",
        "A AS p < 3, B AS p >= 1, C AS p >= 4", rows="ALL ROWS PER MATCH",
    ),
}


def _dsl_no_skip():
    """NO_SKIP over a fixed-width pattern: one completion per start."""
    return (
        Pattern.begin("A", skip=NO_SKIP).where("p < 3")
        .next("B").where("p >= 1")
        .next("C").where("p >= 2")
        .build(
            key_cols=("k",),
            order_col="ts",
            tiebreak_col="seq",
            measures=(
                Measure("fa", "A", "seq", "first"),
                Measure("sv", "B", "v", "sum"),
                Measure("mn", "", "", "match_number"),
            ),
        )
    )


CASES = {n: (lambda b=b: parse_match_recognize(b)) for n, b in SQL_CASES.items()}
CASES["dsl_no_skip"] = _dsl_no_skip


def _rows(df):
    # repr: NaN == NaN, and NULL sorts with everything else
    return sorted(map(repr, map(tuple, df.collect())))


@pytest.mark.parametrize("batch", [3, None], ids=["batch3", "batch_default"])
@pytest.mark.parametrize("name", list(CASES))
def test_regex_tier_matches_nfa(spark, name, batch):
    spec = CASES[name]()
    for seed in (1, 2):
        df = _random_frame(spark, seed)
        assert choose_tier(df, spec).name == "regex"
        with _arrow_batches(spark, batch):
            got = _rows(run_pattern(df, spec))
            want = _rows(run_pattern(df, spec, use_fast_path=False))
        assert got == want, (name, seed)


def _chain_frame(spark, minutes, ps):
    return spark.createDataFrame(
        [
            (1.0, _T0 + timedelta(minutes=m), i, p, float(i))
            for i, (m, p) in enumerate(zip(minutes, ps))
        ],
        _SCHEMA,
    )


def test_within_boundary_and_greedy_overrun(spark):
    """``(X Y)+ WITHIN 3 minutes`` over X Y X Y one minute apart, then X
    Y at +5/+6 and X Y at +8/+11: the two-pair completion ends exactly at
    start + 3 minutes, so the NFA drops it and the one-pair completion
    that fits wins (the greedy regex overruns and backtracks); the pair
    at +8/+11 ends exactly at the deadline and does not match."""
    body = _body(
        "((X Y)+) WITHIN INTERVAL '3' MINUTE", "SKIP PAST LAST ROW",
        "FIRST(X.seq) AS fx, LAST(Y.seq) AS ly, COUNT(X.*) AS n",
        "X AS p = 1, Y AS p = 2",
    )
    spec = parse_match_recognize(body)
    df = _chain_frame(
        spark, [0, 1, 2, 3, 5, 6, 8, 11], [1, 2, 1, 2, 1, 2, 1, 2]
    )
    assert choose_tier(df, spec).name == "regex"
    want = [(1.0, 0, 1, 1), (1.0, 2, 3, 1), (1.0, 4, 5, 1)]
    assert sorted(map(tuple, run_pattern(df, spec).drop("tag").collect())) == want
    assert sorted(map(tuple, match_pattern(df, spec).drop("tag").collect())) == want


def test_permute_no_skip_runs_the_nfa(spark):
    """PERMUTE under NO_SKIP is the NFA reference's eager alternation of
    its orderings, which emits every ordering that completes from a
    start: over two rows that each satisfy A and B, both ``A B`` and
    ``B A`` bind. The regex tier serves PERMUTE only under SKIP TO NEXT
    ROW (one binding per start, the lexicographic one), so NO_SKIP runs
    the NFA."""
    from flink_cep_examples_spark.plans.pattern import PatternSpec, PatternVar

    spec = PatternSpec(
        variables=(PatternVar("A", "fa"), PatternVar("B", "fb")),
        key_cols=("id",),
        order_col="event_time",
        after_match=NO_SKIP,
        permute=True,
        measures=(
            Measure("a", "A", "seq", "first"),
            Measure("b", "B", "seq", "first"),
        ),
    )
    df = spark.createDataFrame(
        [
            ("k", _T0, 0, True, True),
            ("k", _T0 + timedelta(minutes=1), 1, True, True),
            ("k", _T0 + timedelta(minutes=2), 2, False, True),
        ],
        "id string, event_time timestamp, seq long, fa boolean, fb boolean",
    )
    assert choose_tier(df, spec).name == "nfa"
    got = sorted(map(tuple, run_pattern(df, spec).collect()))
    assert got == sorted(map(tuple, run_pattern(df, spec, use_fast_path=False).collect()))
    assert got == [
        ("k", 0, 1, "match"), ("k", 1, 0, "match"), ("k", 1, 2, "match"),
    ]
