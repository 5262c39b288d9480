"""One scan order for every tier: a key's rows are scanned by
``(order, tiebreak)`` ascending with NULLs last
(operators/partition_scan.py::scan_order), on the NFA and on every
compiled kernel. A NULL tiebreak on a timestamp tie, or on a match's
last row, must not change a compiled tier's answer."""

from __future__ import annotations

import datetime as dt

import pytest

from flink_cep_examples_spark.operators.planner import choose_tier, run_pattern
from flink_cep_examples_spark.plans.pattern import (
    NO_SKIP,
    SKIP_PAST_LAST_EVENT,
    SKIP_TO_NEXT,
    Measure,
    Pattern,
    PatternSpec,
    PatternVar,
    alternation,
)
from flink_cep_examples_spark.sql.match_recognize import match_recognize

_SCHEMA = (
    "id string, event_time timestamp, seq long, v long, "
    "fa boolean, fb boolean, fx boolean"
)


def _t(minute: int) -> dt.datetime:
    return dt.datetime(2020, 5, 1) + dt.timedelta(minutes=minute)


#: key "k": an A row tied at minute 0 with a B/X row whose seq is NULL,
#: and a final B row whose seq is NULL; NULLs-last order is v = 1..5.
#: Key "j" repeats the tie with the NULL row listed first; key "m" is an
#: A row with no X after it.
_ROWS = [
    ("k", _t(0), 1, 1, True, False, False),
    ("k", _t(0), None, 2, False, True, True),
    ("k", _t(1), 2, 3, False, True, False),
    ("k", _t(2), 3, 4, True, False, False),
    ("k", _t(3), None, 5, False, True, False),
    ("j", _t(0), None, 2, False, True, True),
    ("j", _t(0), 7, 1, True, False, False),
    ("j", _t(5), 8, 3, False, True, False),
    ("m", _t(0), 1, 1, True, False, False),
    ("m", _t(120), 2, 2, False, False, False),
]


def _permute() -> PatternSpec:
    return PatternSpec(
        variables=(PatternVar("A", "fa"), PatternVar("B", "fb")),
        key_cols=("id",),
        order_col="event_time",
        after_match=SKIP_TO_NEXT,
        permute=True,
        measures=(
            Measure("a", "A", "v", "first"),
            Measure("b", "B", "v", "first"),
        ),
    )


def _positional() -> PatternSpec:
    return (
        Pattern.begin("A", skip=SKIP_PAST_LAST_EVENT)
        .where("true")
        .next("B")
        .where("true")
        .build(
            measures=(
                Measure("a", "A", "v", "first"),
                Measure("b", "B", "v", "first"),
            )
        )
    )


def _alternation():
    return alternation(
        Pattern.begin("A", skip=SKIP_TO_NEXT).where("fa").next("B").where("fb"),
        Pattern.begin("X", skip=SKIP_TO_NEXT).where("fx"),
        measures=(
            Measure("a", "A", "v", "first"),
            Measure("b", "B", "v", "first"),
            Measure("x", "X", "v", "first"),
            Measure("mn", "A", "v", "match_number"),
        ),
    )


def _absence() -> PatternSpec:
    return (
        Pattern.begin("A", skip=NO_SKIP)
        .where("fa")
        .not_followed_by("N")
        .where("fx")
        .within("1 hour")
        .build(measures=(Measure("a", "A", "v", "first"),))
    )


@pytest.mark.parametrize(
    "make, tier, want",
    [
        (_permute, "permute", [
            ("j", 1, 2, "match"), ("k", 1, 2, "match"),
            ("k", 4, 3, "match"), ("k", 4, 5, "match"),
        ]),
        (_positional, "positional", [
            ("j", 1, 2, "match"), ("k", 1, 2, "match"),
            ("k", 3, 4, "match"), ("m", 1, 2, "match"),
        ]),
        (_alternation, "alternation", [
            ("j", 1, 2, None, 1), ("j", None, None, 2, 2),
            ("k", 1, 2, None, 1), ("k", None, None, 2, 2),
            ("k", 4, 5, None, 3),
        ]),
        (_absence, "absence", [("k", 4, "match"), ("m", 1, "match")]),
    ],
    ids=["permute", "positional", "alternation", "absence"],
)
def test_null_tiebreak_agrees_with_nfa(spark, make, tier, want):
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    spec = make()

    def rows(use_fast_path):
        out = run_pattern(df, spec, use_fast_path=use_fast_path)
        return sorted(map(tuple, out.collect()), key=repr)

    assert choose_tier(df, spec).name == tier
    assert rows(False) == sorted(want, key=repr)
    assert rows(True) == rows(False)


def test_alternation_kernel_numbers_matches_by_start(spark, sf_small):
    """``(A C | A D{3})`` under SKIP TO NEXT ROW on key '0': the match
    starting at seq 449 ends a row after the one starting at seq 451, and
    MATCH_NUMBER() numbers them by start, as the NFA and the stream do."""
    from flink_cep_examples_spark.sources.billing import events_as_billing

    body = """
      PARTITION BY id ORDER BY event_time
      MEASURES MATCH_NUMBER() AS mn, FIRST(A.seq) AS s
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (A C | A D{3})
      DEFINE A AS A.balanceAfter < 60, C AS C.balanceAfter > 20,
             D AS D.balanceAfter > 10
    """
    df = events_as_billing(spark, sf_small).filter("id = '0'")

    def rows(use_fast_path):
        out = match_recognize(
            df, body, order_col="event_time", use_fast_path=use_fast_path
        )
        return sorted((r.mn, r.s) for r in out.collect())

    nfa = rows(False)
    assert {(10, 449), (11, 451)} <= set(nfa)
    assert rows(True) == nfa
