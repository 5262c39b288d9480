"""Property-based tests (SURVEY §5 strategy #4).

The NFA core is differentially tested against an independent
closed-form reference implementation of the billing pattern
(A B* C within 1h, skip past last row). For this predicate family the
closed form is exact: is_b is the complement of is_c and is_a ⊂ is_b,
so a match is (earliest A whose next C is < 1h away, that C), and a
timeout is an A whose next C is missing or ≥ 1h away (the same
derivation as the DuckDB oracles of queries/cep.py — but re-derived
here in ~20 lines of pure Python, with no shared code).

Spark-level: one job runs ~50 random key groups through the NFA
reference and through the tier table's entry point (``run_pattern``)
and requires identical output — cross-front-end differential (§5
strategy #2) on random data, not just the golden fixtures.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from flink_cep_examples_spark.operators.nfa import scan_key_group
from flink_cep_examples_spark.plans.pattern import billing_pattern

WITHIN_US = 3_600_000_000

#: (gap_minutes ≤ 90, balance_before, balance_after) per event; balances
#: hug the alarm threshold 10 so all predicate combinations occur.
event = st.tuples(
    st.integers(min_value=0, max_value=90),
    st.integers(min_value=0, max_value=25),
    st.integers(min_value=0, max_value=25),
)
sequences = st.lists(event, min_size=0, max_size=30)


def _rows_from_seq(seq):
    """Cumulative distinct-ish timestamps (µs) + predicate flags."""
    ts, t = [], 0
    for gap, _, _ in seq:
        t += gap * 60_000_000 + 1  # +1µs keeps timestamps strictly increasing
        ts.append(t)
    is_a = [bb >= 10 and ba < 10 for _, bb, ba in seq]
    is_b = [bb >= ba for _, bb, ba in seq]
    is_c = [bb < ba for _, bb, ba in seq]
    return np.array(ts, dtype=np.int64), is_a, is_b, is_c


def _closed_form(ts, is_a, is_c):
    """Independent reference: matches = (earliest in-window A per C),
    timeouts = A with no C in (ts_a, ts_a + 1h)."""
    n = len(ts)
    next_c = [None] * n
    nc = None
    for i in range(n - 1, -1, -1):
        next_c[i] = nc
        if is_c[i]:
            nc = i
    matches, timeouts, claimed = [], [], set()
    for i in range(n):
        if not is_a[i]:
            continue
        j = next_c[i]
        if j is None or ts[j] - ts[i] >= WITHIN_US:
            timeouts.append(i)
        elif j not in claimed:
            matches.append((i, j))
            claimed.add(j)
    return matches, timeouts


@given(sequences)
@settings(max_examples=500, deadline=None)
def test_nfa_matches_closed_form(seq):
    ts, is_a, is_b, is_c = _rows_from_seq(seq)
    spec = billing_pattern(emit_timeouts=True)
    preds = np.array([is_a, is_b, is_c], dtype=bool).reshape(3, len(seq))
    matches, timeouts = scan_key_group(spec, preds, ts)
    got_matches = sorted((m["A"][0], m["C"][0]) for m in matches)
    got_timeouts = sorted(t["A"][0] for t in timeouts)
    exp_matches, exp_timeouts = _closed_form(ts, is_a, is_c)
    assert got_matches == sorted(exp_matches)
    assert got_timeouts == sorted(exp_timeouts)


@given(sequences)
@settings(max_examples=300, deadline=None)
def test_nfa_invariants(seq):
    ts, is_a, is_b, is_c = _rows_from_seq(seq)
    spec = billing_pattern(emit_timeouts=True)
    preds = np.array([is_a, is_b, is_c], dtype=bool).reshape(3, len(seq))
    matches, _ = scan_key_group(spec, preds, ts)
    spans = sorted((m["A"][0], m["C"][1]) for m in matches)
    for (a, c) in spans:
        assert is_a[a] and is_c[c] and a < c
        assert ts[c] - ts[a] < WITHIN_US  # strict deadline
    # skip-past-last-event: non-overlapping, strictly ordered spans
    for (_, c_prev), (a_next, _) in zip(spans, spans[1:]):
        assert a_next > c_prev


@pytest.mark.slow
def test_cross_tier_differential_random(spark):
    """~50 random key groups in ONE DataFrame through the NFA reference
    and the tier table."""
    import random

    from flink_cep_examples_spark.operators.cep_batch import match_pattern
    from flink_cep_examples_spark.operators.planner import run_pattern
    from flink_cep_examples_spark.sources import billing_from_rows

    from datetime import datetime, timedelta

    rng = random.Random(20260813)
    rows = []
    for key in range(50):
        t = datetime(2020, 5, 1)
        for _ in range(rng.randint(0, 40)):
            t += timedelta(seconds=rng.randint(0, 90 * 60) + 1)
            rows.append(
                (
                    f"k{key}",
                    t.strftime("%Y-%m-%d %H:%M:%S"),
                    rng.randint(0, 25),
                    rng.randint(0, 25),
                )
            )
    df = billing_from_rows(spark, rows)
    spec = billing_pattern(emit_timeouts=True)
    nfa_out = sorted(map(tuple, match_pattern(df, spec).collect()))
    fast_out = sorted(map(tuple, run_pattern(df, spec).collect()))
    assert nfa_out == fast_out
    assert nfa_out, "random corpus should produce at least one match/timeout"


# ---------------------------------------------------------------------------
# Sequence packing: the pandas fold vs an independent reference greedy
# ---------------------------------------------------------------------------

token_lists = st.lists(
    st.integers(min_value=1, max_value=400), min_size=1, max_size=120
)


@given(token_lists)
@settings(max_examples=300, deadline=None)
def test_packing_fold_matches_reference_greedy(tokens):
    import pandas as pd

    from flink_cep_examples_spark.queries.packing import (
        TOKEN_BUDGET,
        _pack_bucket,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(tokens)),
            "bucket": [0] * len(tokens),
            "n_tokens": tokens,
        }
    )
    out = _pack_bucket(pdf)

    # independent reference: explicit first-fit in doc order
    exp_seq, exp_pos = [], []
    seq = pos = fill = 0
    for i, t in enumerate(tokens):
        fits = fill + t <= TOKEN_BUDGET
        if i == 0:
            fill = min(t, TOKEN_BUDGET)
        elif fits:
            fill += t
            pos += 1
        else:
            seq += 1
            pos = 0
            fill = min(t, TOKEN_BUDGET)
        exp_seq.append(seq)
        exp_pos.append(pos)
    assert list(out["pack_seq"]) == exp_seq
    assert list(out["pack_pos"]) == exp_pos
    assert list(out["truncated"]) == [t > TOKEN_BUDGET for t in tokens]
    # invariant: every non-truncated pack fits the budget
    fills = {}
    for t, s, tr in zip(tokens, exp_seq, out["truncated"]):
        if not tr:
            fills[s] = fills.get(s, 0) + t
    assert all(v <= TOKEN_BUDGET for v in fills.values())


# ---------------------------------------------------------------------------
# until(): with a never-firing stop condition the NFA is unchanged
# ---------------------------------------------------------------------------


@given(sequences)
@settings(max_examples=200, deadline=None)
def test_until_never_firing_is_identity(seq):
    import numpy as np

    from flink_cep_examples_spark.operators.nfa import scan_key_group
    from flink_cep_examples_spark.plans.pattern import NO_SKIP, Pattern

    def build(with_until):
        p = (
            Pattern.begin("A", skip=NO_SKIP)
            .where("a")
            .followed_by("B")
            .one_or_more()
            .optional()
            .where("b")
        )
        if with_until:
            p = p.until("u")
        return p.followed_by("C").where("c").build()

    ts, is_a, is_b, is_c = _rows_from_seq(seq)
    preds_plain = np.array([is_a, is_b, is_c], dtype=bool)
    preds_until = np.vstack(
        [preds_plain, np.zeros((1, len(seq)), dtype=bool)]
    )
    m1, t1 = scan_key_group(build(False), preds_plain, ts)
    m2, t2 = scan_key_group(build(True), preds_until, ts)
    assert m1 == m2 and t1 == t2


@given(sequences)
@settings(max_examples=200, deadline=None)
def test_until_preserves_matches_and_truncates_loops(seq):
    """With B optional+relaxed, until() never changes WHICH (A, C)
    matches complete — it only truncates each match's B span to rows
    before the first stop row after its start."""
    import numpy as np

    from flink_cep_examples_spark.operators.nfa import scan_key_group
    from flink_cep_examples_spark.plans.pattern import NO_SKIP, Pattern

    def build(with_until):
        p = (
            Pattern.begin("A", skip=NO_SKIP)
            .where("a")
            .followed_by("B")
            .one_or_more()
            .optional()
            .where("b")
        )
        if with_until:
            p = p.until("u")
        return p.followed_by("C").where("c").build()

    ts, is_a, is_b, is_c = _rows_from_seq(seq)
    is_u = [bb == ba for _, bb, ba in seq]  # fires on balance plateaus
    plain = np.array([is_a, is_b, is_c], dtype=bool)
    withu = np.vstack([plain, np.array([is_u], dtype=bool)])
    m1, _ = scan_key_group(build(False), plain, ts)
    m2, _ = scan_key_group(build(True), withu, ts)

    key = lambda m: (m["A"], m["C"])  # noqa: E731
    assert sorted(map(key, m1)) == sorted(map(key, m2))
    u_idx = [i for i, u in enumerate(is_u) if u]
    for m in m2:
        span = m.get("B")
        if span is None:
            continue
        start = m["A"][0]
        stops = [i for i in u_idx if i > start]
        if stops:
            assert span[1] < stops[0]


# ---------------------------------------------------------------------------
# After-match skip-strategy lattice (round 3): on ARBITRARY predicate
# flag sequences, every one-match-per-resumption strategy emits a
# subset of the NO_SKIP completion set, and the per-run strategies
# nest by how aggressively they discard state.
# ---------------------------------------------------------------------------

from flink_cep_examples_spark.plans.pattern import (  # noqa: E402
    NO_SKIP,
    SKIP_PAST_LAST_EVENT,
    SKIP_TO_FIRST,
    SKIP_TO_LAST,
    SKIP_TO_NEXT,
    Pattern,
)

#: each row gets independent A/B/C flags — overlapping predicates, the
#: regime where the strategies genuinely differ.
flag_rows = st.lists(
    st.tuples(st.booleans(), st.booleans(), st.booleans()),
    min_size=0,
    max_size=14,
)


def _abc_spec(skip, skip_var=None):
    return (
        Pattern.begin("A", skip=skip, skip_var=skip_var)
        .where("x")
        .next("B")
        .one_or_more()
        .optional()
        .where("y")
        .next("C")
        .where("z")
        .within("1 hour")
    ).build()


def _matches(skip, rows, skip_var=None):
    ts = np.arange(1, len(rows) + 1, dtype=np.int64) * 60_000_000
    preds = np.array(
        [[r[i] for r in rows] for i in range(3)], dtype=bool
    )
    m, _ = scan_key_group(_abc_spec(skip, skip_var), preds, ts)
    return [
        (x["A"][0], x["C"][0], x.get("B", (None, None, 0))[2]) for x in m
    ]


@settings(max_examples=200, deadline=None)
@given(flag_rows)
def test_skip_strategies_emit_subsets_of_no_skip(rows):
    all_completions = set(_matches(NO_SKIP, rows))
    for skip, var in (
        (SKIP_PAST_LAST_EVENT, None),
        (SKIP_TO_NEXT, None),
        (SKIP_TO_FIRST, "B"),
        (SKIP_TO_LAST, "B"),
    ):
        got = _matches(skip, rows, var)
        assert len(set(got)) == len(got), (skip, got)  # no duplicate emission
        assert set(got) <= all_completions, (skip, got)


@settings(max_examples=200, deadline=None)
@given(flag_rows)
def test_skip_past_last_is_the_most_aggressive(rows):
    """skip-past-last discards the most state, so it never emits more
    matches than skip-to-next (one per start row) or no-skip."""
    n_past = len(_matches(SKIP_PAST_LAST_EVENT, rows))
    n_next = len(_matches(SKIP_TO_NEXT, rows))
    n_all = len(_matches(NO_SKIP, rows))
    assert n_past <= n_next <= n_all


@settings(max_examples=200, deadline=None)
@given(flag_rows)
def test_skip_to_next_starts_are_distinct(rows):
    starts = [a for a, _, _ in _matches(SKIP_TO_NEXT, rows)]
    assert len(starts) == len(set(starts))


# ---------------------------------------------------------------------------
# Alternation (round 4): hypothesis differential + invariants at the
# NFA level — the seeded Spark differential in test_alternation.py
# covers the operator; this drives the coordinator core over hundreds
# of generated streams with no Spark in the loop.
# ---------------------------------------------------------------------------

from flink_cep_examples_spark.operators.nfa import (  # noqa: E402
    Nfa,
    scan_key_group_alternation,
)
from flink_cep_examples_spark.plans.pattern import (  # noqa: E402
    PatternSpec,
    PatternVar,
    SKIP_PAST_LAST_EVENT,
    SKIP_TO_NEXT,
    TIMES,
)

_alt_flags = st.lists(
    st.tuples(st.booleans(), st.booleans(), st.booleans()),  # fa, fc, fd
    min_size=0,
    max_size=40,
)


def _alt_nfas(skip):
    mk = lambda *vs: PatternSpec(
        variables=vs, key_cols=("id",), after_match=skip
    )
    return [
        Nfa(mk(PatternVar("A", "fa"), PatternVar("C", "fc"))),
        Nfa(
            mk(
                PatternVar("A", "fa"),
                PatternVar("D", "fd", quantifier=TIMES, times=(2, 2)),
            )
        ),
    ]


def _run_alt(seq, skip):
    fa = [s[0] for s in seq]
    fc = [s[1] for s in seq]
    fd = [s[2] for s in seq]
    ts = np.arange(1, len(seq) + 1, dtype=np.int64) * 1_000_000
    preds = [
        np.array([fa, fc], dtype=bool),
        np.array([fa, fd], dtype=bool),
    ]
    out = scan_key_group_alternation(_alt_nfas(skip), preds, ts, skip)
    spans = []
    for a, match in out:
        lo = min(s[0] for s in match.values())
        hi = max(s[1] for s in match.values())
        spans.append((lo, hi, a, match))
    return fa, fc, fd, spans


@given(_alt_flags)
@settings(max_examples=300, deadline=None)
def test_alternation_past_last_equals_brute_force(seq):
    """The coordinator under SKIP PAST LAST ROW must equal the ~15-line
    independent brute force (tests/test_alternation.py), in emission
    order, on arbitrary flag streams."""
    from tests.test_alternation import _brute_past_last

    fa, fc, fd, spans = _run_alt(seq, SKIP_PAST_LAST_EVENT)
    got = [(lo, a) for lo, _, a, _ in spans]
    assert got == _brute_past_last(fa, fc, fd)


@given(_alt_flags)
@settings(max_examples=300, deadline=None)
def test_alternation_invariants(seq):
    """Structural invariants on both strategies: every match's rows
    satisfy its branch's predicates; PAST LAST matches never overlap;
    TO NEXT emits at most one match per start row."""
    fa, fc, fd, past = _run_alt(seq, SKIP_PAST_LAST_EVENT)

    def check_flags(a, match):
        if a == 0:  # A C
            assert fa[match["A"][0]] and fc[match["C"][0]]
        else:  # A D{2}
            d0, d1 = match["D"][0], match["D"][1]
            assert fa[match["A"][0]] and fd[d0] and fd[d1] and d1 == d0 + 1

    prev_hi = -1
    for lo, hi, a, match in past:
        check_flags(a, match)
        assert lo > prev_hi  # non-overlapping, ascending
        prev_hi = hi

    _, _, _, nxt = _run_alt(seq, SKIP_TO_NEXT)
    starts = [lo for lo, _, _, _ in nxt]
    assert len(starts) == len(set(starts))  # one match per start row
    for lo, hi, a, match in nxt:
        check_flags(a, match)
