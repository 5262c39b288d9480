"""NFA feature coverage beyond the reference pattern: relaxed
contiguity (followed_by), NO_SKIP overlap semantics, quantifier
variants — unit-level against scan_key_group with hand-written tiny
sequences (SURVEY §5 strategy #5)."""

from __future__ import annotations

import numpy as np

from flink_cep_examples_spark.operators.nfa import scan_key_group
from flink_cep_examples_spark.plans.pattern import NO_SKIP, Pattern

MIN = 60_000_000  # one minute in µs


def _scan(spec, rows):
    """rows: list of (minute, flags...) with one flag per variable."""
    ts = np.array([r[0] * MIN for r in rows], dtype=np.int64)
    n_vars = len(spec.variables)
    preds = np.array(
        [[bool(r[1 + i]) for r in rows] for i in range(n_vars)], dtype=bool
    )
    return scan_key_group(spec, preds, ts)


def test_next_requires_contiguity():
    spec = Pattern.begin("A").next("C").build()
    # A, gap row matching nothing, C  → strict: no match
    m, _ = _scan(spec, [(0, 1, 0), (1, 0, 0), (2, 0, 1)])
    assert m == []


def test_followed_by_skips_gap_rows():
    spec = Pattern.begin("A").followed_by("C").build()
    m, _ = _scan(spec, [(0, 1, 0), (1, 0, 0), (2, 0, 1)])
    assert [(x["A"][0], x["C"][0]) for x in m] == [(0, 2)]


def test_no_skip_emits_overlapping_matches():
    spec = Pattern.begin("A", skip=NO_SKIP).followed_by("C").build()
    # two As before one C → two overlapping matches under NO_SKIP
    m, _ = _scan(spec, [(0, 1, 0), (1, 1, 0), (2, 0, 1)])
    assert sorted((x["A"][0], x["C"][0]) for x in m) == [(0, 2), (1, 2)]


def test_skip_past_last_event_claims_c():
    spec = Pattern.begin("A").followed_by("C").build()
    m, _ = _scan(spec, [(0, 1, 0), (1, 1, 0), (2, 0, 1)])
    assert [(x["A"][0], x["C"][0]) for x in m] == [(0, 2)]


def test_one_or_more_requires_at_least_one():
    spec = Pattern.begin("A").next("B").one_or_more().next("C").build()
    # A C with no B → no match
    m, _ = _scan(spec, [(0, 1, 0, 0), (1, 0, 0, 1)])
    assert m == []
    # A B B C → match, B count 2
    m, _ = _scan(
        spec, [(0, 1, 0, 0), (1, 0, 1, 0), (2, 0, 1, 0), (3, 0, 0, 1)]
    )
    assert len(m) == 1 and m[0]["B"][2] == 2


def test_optional_once():
    spec = Pattern.begin("A").next("B").optional().next("C").build()
    # B? : both A C and A B C match
    m, _ = _scan(spec, [(0, 1, 0, 0), (1, 0, 0, 1)])
    assert len(m) == 1
    m, _ = _scan(spec, [(0, 1, 0, 0), (1, 0, 1, 0), (2, 0, 0, 1)])
    assert len(m) == 1 and m[0]["B"][2] == 1


def test_within_prunes_followed_by_runs():
    spec = Pattern.begin("A").followed_by("C").within("10 minutes").build()
    m, to = _scan(spec, [(0, 1, 0), (15, 0, 1)])
    assert m == []


def test_fast_absence_matches_nfa_differential(spark, sf_small):
    """The timed-absence closed form and the general NFA must agree
    row-for-row on the events-derived billing stream."""
    from flink_cep_examples_spark.operators.cep_batch import match_pattern
    from flink_cep_examples_spark.operators.fast_path import (
        match_pattern_fast_absence,
    )
    from flink_cep_examples_spark.queries.cep import absence_spec
    from flink_cep_examples_spark.sources.billing import events_as_billing

    df = events_as_billing(spark, sf_small)
    spec = absence_spec()
    fast = sorted(map(tuple, match_pattern_fast_absence(df, spec).collect()))
    nfa = sorted(map(tuple, match_pattern(df, spec).collect()))
    assert fast == nfa and fast


def test_fast_absence_tie_rows_void_like_nfa(spark):
    """An N row at the SAME timestamp but later tiebreak sits after the
    A in match order and must void it; at exactly start+within the
    deadline fires first (strict <) and the match survives."""
    from flink_cep_examples_spark.operators.cep_batch import match_pattern
    from flink_cep_examples_spark.operators.fast_path import (
        match_pattern_fast_absence,
    )
    from flink_cep_examples_spark.queries.cep import absence_spec
    from flink_cep_examples_spark.sources.billing import billing_from_rows

    rows = [
        ("1", "2020-05-01 11:00:00", 50, 5),   # alarm
        ("1", "2020-05-01 11:00:00", 5, 9),    # same-ts top-up: voids
        ("2", "2020-05-01 11:00:00", 50, 5),   # alarm
        ("2", "2020-05-01 12:00:00", 5, 9),    # top-up at exactly +1h:
    ]                                          # deadline fired first
    df = billing_from_rows(spark, rows)
    spec = absence_spec()
    fast = sorted(map(tuple, match_pattern_fast_absence(df, spec).collect()))
    nfa = sorted(map(tuple, match_pattern(df, spec).collect()))
    assert fast == nfa == [("2", "2020-05-01 11:00:00", "match")]


def test_fast_all_rows_matches_nfa_differential(spark, sf_small):
    """ALL ROWS PER MATCH through the tier table vs the NFA tier:
    identical row multisets (every input column + classifier +
    match_seq + final measures) on the events-derived billing stream."""
    import dataclasses

    from flink_cep_examples_spark.operators.cep_batch import match_pattern
    from flink_cep_examples_spark.operators.planner import run_pattern
    from flink_cep_examples_spark.plans.pattern import billing_pattern
    from flink_cep_examples_spark.sources.billing import events_as_billing

    df = events_as_billing(spark, sf_small)
    spec = dataclasses.replace(billing_pattern(), rows_per_match="all")
    fast = run_pattern(df, spec)
    nfa = match_pattern(df, spec)
    assert fast.columns == nfa.columns
    f_rows = sorted(map(tuple, fast.collect()))
    n_rows = sorted(map(tuple, nfa.collect()))
    assert f_rows == n_rows and f_rows


def test_fast_until_matches_nfa_differential(spark, sf_small):
    """until() count truncation through the tier table vs the NFA tier —
    identical rows, n_b truncation included."""
    from flink_cep_examples_spark.operators.cep_batch import match_pattern
    from flink_cep_examples_spark.operators.planner import run_pattern
    from flink_cep_examples_spark.queries.cep import until_pattern_spec
    from flink_cep_examples_spark.sources.billing import events_as_billing

    df = events_as_billing(spark, sf_small)
    spec = until_pattern_spec()
    fast = sorted(map(tuple, run_pattern(df, spec).collect()))
    nfa = sorted(map(tuple, match_pattern(df, spec).collect()))
    assert fast == nfa and fast


def test_fast_all_rows_no_phantom_match_without_within(spark):
    """A trailing segment holding an A but no C must emit NOTHING even
    when the pattern has no WITHIN (regression: an all-rows closed form
    once dropped the closing-C invariant when within was None)."""
    import dataclasses

    from flink_cep_examples_spark.operators.cep_batch import match_pattern
    from flink_cep_examples_spark.operators.planner import run_pattern
    from flink_cep_examples_spark.plans.pattern import Measure, Pattern
    from flink_cep_examples_spark.sources.billing import billing_from_rows

    spec = (
        Pattern.begin("A")
        .where("balanceBefore >= 10 AND balanceAfter < 10")
        .next("B")
        .one_or_more()
        .optional()
        .where("balanceBefore >= balanceAfter")
        .next("C")
        .where("balanceBefore < balanceAfter")
        # no .within()
    ).build(
        measures=(
            Measure("alarmTriggerDatetime", "A", "datetime", "first"),
            Measure("topupDatetime", "C", "datetime", "first"),
        )
    )
    rows = [
        ("1", "2020-05-01 11:00:00", 50, 5),   # alarm
        ("1", "2020-05-01 11:10:00", 5, 9),    # top-up -> match
        ("1", "2020-05-01 12:00:00", 50, 5),   # trailing alarm, no C
        ("1", "2020-05-01 12:10:00", 5, 4),    # trailing B
    ]
    df = billing_from_rows(spark, rows)
    fast = sorted(
        map(
            tuple,
            run_pattern(
                df, dataclasses.replace(spec, rows_per_match="all")
            ).collect(),
        )
    )
    nfa = sorted(
        map(
            tuple,
            match_pattern(
                df, dataclasses.replace(spec, rows_per_match="all")
            ).collect(),
        )
    )
    assert fast == nfa
    # exactly the first match's two rows; nothing from the trailing segment
    assert len(fast) == 2


def test_fast_positional_matches_nfa_all_strategies(spark, sf_small):
    """The positional closed form and the general NFA must agree
    row-for-row on the events-derived billing stream for every
    positional AFTER MATCH strategy over a dense fixed-width pattern
    (A B{2} C, all-true predicates): SKIP PAST LAST (stride 4), SKIP TO
    NEXT (stride 1), SKIP TO FIRST B (stride 1), SKIP TO LAST B
    (stride 2), and a no-loop A C shape (stride 2)."""
    from flink_cep_examples_spark.operators.cep_batch import match_pattern
    from flink_cep_examples_spark.operators.fast_path import (
        fast_positional_applicable,
        match_pattern_fast_positional,
    )
    from flink_cep_examples_spark.plans.pattern import (
        SKIP_PAST_LAST_EVENT,
        SKIP_TO_FIRST,
        SKIP_TO_LAST,
        SKIP_TO_NEXT,
        Measure,
        Pattern,
    )
    from flink_cep_examples_spark.sources.billing import events_as_billing

    df = events_as_billing(spark, sf_small)
    measures = (
        Measure("alarmTriggerDatetime", "A", "datetime", "first"),
        Measure("topupDatetime", "C", "datetime", "first"),
    )

    def abc(skip, skip_var=None):
        return (
            Pattern.begin("A", skip=skip, skip_var=skip_var)
            .where("true")
            .next("B").times(2).where("true")
            .next("C").where("true")
        ).build(
            key_cols=("id",), order_col="event_time", tiebreak_col="seq",
            measures=measures,
        )

    def ac(skip, skip_var=None):
        return (
            Pattern.begin("A", skip=skip, skip_var=skip_var)
            .where("true")
            .next("C").where("true")
        ).build(
            key_cols=("id",), order_col="event_time", tiebreak_col="seq",
            measures=measures,
        )

    specs = [
        abc(SKIP_PAST_LAST_EVENT),
        abc(SKIP_TO_NEXT),
        abc(SKIP_TO_FIRST, "B"),
        abc(SKIP_TO_LAST, "B"),
        abc(SKIP_TO_FIRST, "C"),
        ac(SKIP_PAST_LAST_EVENT),
        ac(SKIP_TO_FIRST, "C"),
    ]
    for spec in specs:
        assert fast_positional_applicable(spec), spec.after_match
        fast = sorted(
            map(tuple, match_pattern_fast_positional(df, spec).collect())
        )
        nfa = sorted(map(tuple, match_pattern(df, spec).collect()))
        assert fast == nfa and fast, (spec.after_match, spec.skip_var)


def test_fast_positional_rejects_non_dense_shapes():
    """Real predicates, loops, deadlines, or a zero stride (SKIP TO
    FIRST of the begin variable) must fall back to the NFA tier."""
    from flink_cep_examples_spark.operators.fast_path import (
        fast_positional_applicable,
    )
    from flink_cep_examples_spark.plans.pattern import (
        SKIP_TO_FIRST,
        Pattern,
    )

    dense = (
        Pattern.begin("A").where("true").next("C").where("true")
    ).build()
    assert fast_positional_applicable(dense)

    predicated = (
        Pattern.begin("A").where("balanceAfter < 10").next("C").where("true")
    ).build()
    assert not fast_positional_applicable(predicated)

    looping = (
        Pattern.begin("A").where("true")
        .next("B").one_or_more().where("true")
        .next("C").where("true")
    ).build()
    assert not fast_positional_applicable(looping)

    deadlined = (
        Pattern.begin("A").where("true").next("C").where("true")
        .within("1 hour")
    ).build()
    assert not fast_positional_applicable(deadlined)

    zero_stride = (
        Pattern.begin("A", skip=SKIP_TO_FIRST, skip_var="A")
        .where("true").next("C").where("true")
    ).build()
    assert not fast_positional_applicable(zero_stride)


def test_fast_positional_random_shapes_match_nfa(spark):
    """Seeded sweep over random dense fixed-width shapes: var count,
    widths, skip strategy, skip var, and measure fns all vary; the
    closed form and the NFA must agree on a small synthetic stream."""
    import random

    from flink_cep_examples_spark.operators.cep_batch import match_pattern
    from flink_cep_examples_spark.operators.fast_path import (
        fast_positional_applicable,
        match_pattern_fast_positional,
    )
    from flink_cep_examples_spark.plans.pattern import (
        NO_SKIP,
        SKIP_PAST_LAST_EVENT,
        SKIP_TO_FIRST,
        SKIP_TO_LAST,
        SKIP_TO_NEXT,
        Measure,
        Pattern,
    )
    from flink_cep_examples_spark.sources.billing import billing_from_rows

    rng = random.Random(4)
    rows = [
        (str(k), f"2020-05-01 {10 + i // 60:02d}:{i % 60:02d}:00",
         rng.randint(0, 60), rng.randint(0, 60))
        for k in range(6)
        for i in range(rng.randint(3, 17))
    ]
    df = billing_from_rows(spark, rows)

    checked = 0
    for trial in range(12):
        n_vars = rng.randint(1, 3)
        names = ["A", "B", "C"][:n_vars]
        widths = [rng.randint(1, 3) for _ in names]
        strategy = rng.choice(
            [SKIP_PAST_LAST_EVENT, SKIP_TO_NEXT, NO_SKIP,
             SKIP_TO_FIRST, SKIP_TO_LAST]
        )
        skip_var = (
            rng.choice(names)
            if strategy in (SKIP_TO_FIRST, SKIP_TO_LAST)
            else None
        )
        p = Pattern.begin(names[0], skip=strategy, skip_var=skip_var)
        if widths[0] > 1:
            p = p.times(widths[0])
        for nm, w in zip(names[1:], widths[1:]):
            p = p.next(nm)
            if w > 1:
                p = p.times(w)
        fn = rng.choice(["first", "last", "count"])
        spec = p.build(
            key_cols=("id",), order_col="event_time", tiebreak_col="seq",
            measures=(Measure("m", rng.choice(names), "datetime", fn),),
        )
        if not fast_positional_applicable(spec):
            # zero-stride SKIP TO FIRST <first var> — NFA-only shape
            continue
        fast = sorted(
            map(tuple, match_pattern_fast_positional(df, spec).collect())
        )
        nfa = sorted(map(tuple, match_pattern(df, spec).collect()))
        assert fast == nfa, (names, widths, strategy, skip_var, fn)
        checked += 1
    assert checked >= 8
