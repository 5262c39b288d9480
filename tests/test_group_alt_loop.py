"""Alternation INSIDE an unbounded group — ``(A B | C D)+`` (round 8,
PatternSpec.loop_branches): every iteration matches exactly one branch;
after a branch's end variable the run may loop back to ANY branch's
start. Round 7 rejected this shape loudly (sql/match_recognize.py).

Reference semantics source: SQL:2016 greedy quantifier preferment over
an alternation body — on a classified row string with DISJOINT branch
predicates this is exactly Python ``re`` leftmost-greedy matching of
``(?:ab|cd)+``, so the brute-force oracle is the ``re`` module:

- AFTER MATCH SKIP PAST LAST ROW == ``re.finditer`` (leftmost-longest,
  non-overlapping);
- AFTER MATCH SKIP TO NEXT ROW == ``re.match`` anchored at every
  position (one greedy match per start, overlaps allowed).

Mixed-width branches (``(A | C D)+``) exercise branch-dependent
iteration length, which the tier table serves on the regex tier
(operators/regex_scan.py) over the same symbols.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from flink_cep_examples_spark.operators import nfa as N
from flink_cep_examples_spark.plans.pattern import (
    NO_SKIP,
    PatternSpec,
    PatternVar,
    SKIP_PAST_LAST_EVENT,
    SKIP_TO_NEXT,
)
from flink_cep_examples_spark.sql.match_recognize import (
    parse_match_recognize,
)

# classes: 1=A, 2=B, 3=C, 4=D, 5=Z, 6=P, 0 inert
_LETTER = {0: ".", 1: "a", 2: "b", 3: "c", 4: "d", 5: "z", 6: "p"}


def _spec(
    after=SKIP_PAST_LAST_EVENT,
    branches=((0, 1), (2, 3)),
    suffix=False,
    prefix=False,
):
    vars_ = [
        PatternVar("A", "pa"),
        PatternVar("B", "pb"),
        PatternVar("C", "pc"),
        PatternVar("D", "pd"),
    ]
    if branches == ((0, 0), (1, 2)):  # mixed width (A | C D)+
        vars_ = [
            PatternVar("A", "pa"),
            PatternVar("C", "pc"),
            PatternVar("D", "pd"),
        ]
    if prefix:  # P (…)+ — round-9 regression shape (NFA begin/succ fan-out)
        vars_.insert(0, PatternVar("P", "pp"))
        branches = tuple((s + 1, e + 1) for s, e in branches)
    if suffix:
        vars_.append(PatternVar("Z", "pz"))
    gs, ge = branches[0][0], branches[-1][1]
    return PatternSpec(
        variables=tuple(vars_),
        loop_groups=((gs, ge),),
        loop_branches=branches,
        after_match=after,
        derivation="longest",
    ).validate()


def _preds(spec, m):
    name_cls = {"A": 1, "B": 2, "C": 3, "D": 4, "Z": 5, "P": 6}
    return tuple(m == name_cls[v.name] for v in spec.variables)


def _run(spec, ms):
    eng = N.Nfa(spec)
    stt = N.NfaState()
    out = []
    for i, m in enumerate(ms):
        mt, _ = eng.step(stt, i * 1000, _preds(spec, m), i)
        out.extend(mt)
    mt, _ = eng.finish(stt)
    out.extend(mt)
    res = []
    for d in out:
        first = min(sp[3] for sp in d.values())
        last = max(sp[4] for sp in d.values())
        res.append((first, last))
    return sorted(res)


def _brute_finditer(rx, ms):
    s = "".join(_LETTER[m] for m in ms)
    return sorted((mt.start(), mt.end() - 1) for mt in rx.finditer(s))


def _brute_per_start(rx, ms):
    s = "".join(_LETTER[m] for m in ms)
    out = []
    for i in range(len(s)):
        mt = rx.match(s, i)
        if mt:
            out.append((i, mt.end() - 1))
    return sorted(out)


_AB_CD = re.compile(r"(?:ab|cd)+")
_A_CD = re.compile(r"(?:a|cd)+")
_AB_CD_Z = re.compile(r"(?:ab|cd)+z")
_P_AB_CD = re.compile(r"p(?:ab|cd)+")
_P_A_CD = re.compile(r"p(?:a|cd)+")
_P_AB_CD_Z = re.compile(r"p(?:ab|cd)+z")


def test_hand_cases_skip_past():
    run = lambda ms: _run(_spec(), ms)
    assert run([1, 2, 3, 4, 1, 2]) == [(0, 5)]
    assert run([1, 2, 0, 3, 4]) == [(0, 1), (3, 4)]
    assert run([1, 2, 3]) == [(0, 1)]  # dangling C never completes
    assert run([1, 4]) == []  # a then d: phase break
    assert run([3, 4, 3, 4]) == [(0, 3)]


def test_hand_mixed_width():
    run = lambda ms: _run(_spec(branches=((0, 0), (1, 2))), ms)
    # (A | C D)+: "acd" is one 2-iteration match
    assert run([1, 3, 4]) == [(0, 2)]
    assert run([3, 4, 1, 1]) == [(0, 3)]
    assert run([3, 1]) == [(1, 1)]  # dangling c dies; lone a matches


def test_hand_prefix_cases():
    """Round-9 regression: a prefix variable before the branch group —
    the NFA used to wire the prefix's successor only to the FIRST
    branch start, so p,c,d silently produced nothing while the chain
    kernel matched (tier divergence, ADVICE r8)."""
    run = lambda ms: _run(_spec(prefix=True), ms)
    assert run([6, 3, 4]) == [(0, 2)]  # p then branch 2 — the lost case
    assert run([6, 1, 2]) == [(0, 2)]
    assert run([6, 3, 4, 1, 2]) == [(0, 4)]
    assert run([6, 3, 4, 3, 4]) == [(0, 4)]
    assert run([3, 4]) == []  # group alone: no prefix, no match
    # mixed width with prefix: p then (A | C D)+
    runm = lambda ms: _run(_spec(branches=((0, 0), (1, 2)), prefix=True), ms)
    assert runm([6, 3, 4]) == [(0, 2)]
    assert runm([6, 1, 3, 4]) == [(0, 3)]


_CLS = st.integers(min_value=0, max_value=4)
_CLS_Z = st.integers(min_value=0, max_value=5)
_CLS_P = st.integers(min_value=0, max_value=6).filter(lambda x: x != 5)
_CLS_PZ = st.integers(min_value=0, max_value=6)


@settings(max_examples=400, deadline=None)
@given(st.lists(_CLS, max_size=36))
def test_skip_past_matches_re(ms):
    assert _run(_spec(), ms) == _brute_finditer(_AB_CD, ms)


@settings(max_examples=400, deadline=None)
@given(st.lists(_CLS, max_size=36))
def test_skip_to_next_matches_re(ms):
    assert _run(_spec(after=SKIP_TO_NEXT), ms) == _brute_per_start(_AB_CD, ms)


@settings(max_examples=200, deadline=None)
@given(st.lists(_CLS, max_size=36))
def test_no_skip_matches_re(ms):
    assert _run(_spec(after=NO_SKIP), ms) == _brute_per_start(_AB_CD, ms)


@settings(max_examples=400, deadline=None)
@given(st.lists(_CLS, max_size=36))
def test_mixed_width_skip_past_matches_re(ms):
    got = _run(_spec(branches=((0, 0), (1, 2))), ms)
    assert got == _brute_finditer(_A_CD, ms)


@settings(max_examples=300, deadline=None)
@given(st.lists(_CLS_Z, max_size=36))
def test_suffix_skip_past_matches_re(ms):
    got = _run(_spec(suffix=True), ms)
    assert got == _brute_finditer(_AB_CD_Z, ms)


@settings(max_examples=400, deadline=None)
@given(st.lists(_CLS_P, max_size=36))
def test_prefix_skip_past_matches_re(ms):
    got = _run(_spec(prefix=True), ms)
    assert got == _brute_finditer(_P_AB_CD, ms)


@settings(max_examples=300, deadline=None)
@given(st.lists(_CLS_P, max_size=36))
def test_prefix_skip_to_next_matches_re(ms):
    got = _run(_spec(after=SKIP_TO_NEXT, prefix=True), ms)
    assert got == _brute_per_start(_P_AB_CD, ms)


@settings(max_examples=300, deadline=None)
@given(st.lists(_CLS_P, max_size=36))
def test_prefix_mixed_width_matches_re(ms):
    got = _run(_spec(branches=((0, 0), (1, 2)), prefix=True), ms)
    assert got == _brute_finditer(_P_A_CD, ms)


@settings(max_examples=300, deadline=None)
@given(st.lists(_CLS_PZ, max_size=36))
def test_prefix_suffix_skip_past_matches_re(ms):
    got = _run(_spec(prefix=True, suffix=True), ms)
    assert got == _brute_finditer(_P_AB_CD_Z, ms)


def test_parser_produces_loop_branches():
    spec = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time
        MEASURES FIRST(A.seq) AS s
        ONE ROW PER MATCH
        PATTERN ((A B | C D)+)
        DEFINE A AS m = 1, B AS m = 2, C AS m = 3, D AS m = 4
        """
    )
    assert spec.loop_groups == ((0, 3),)
    assert spec.loop_branches == ((0, 1), (2, 3))
    assert spec.derivation == "longest"
    from flink_cep_examples_spark.operators.regex_scan import regex_plan

    # equal and mixed branch widths both run on the regex tier, as a
    # symbol-forced shape: one greedy (?:ab|cd)+ over the row symbols
    assert regex_plan(spec) is not None
    mixed = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time
        MEASURES FIRST(A.seq) AS s
        ONE ROW PER MATCH
        PATTERN ((A | C D)+)
        DEFINE A AS m = 1, C AS m = 3, D AS m = 4
        """
    )
    assert mixed.loop_branches == ((0, 0), (1, 2))
    assert regex_plan(mixed) is not None


def test_validate_guards():
    import pytest
    from flink_cep_examples_spark.plans.pattern import Measure

    # ALL ROWS with a multi-branch group is ACCEPTED since round 10
    # (per-row classifier from the branch predicates), and so are
    # RUNNING/aggregate measures over branch vars (same per-row
    # reconstruction; ambiguity is a runtime loud reject)
    PatternSpec(
        variables=(
            PatternVar("A", "pa"),
            PatternVar("B", "pb"),
            PatternVar("C", "pc"),
            PatternVar("D", "pd"),
        ),
        loop_groups=((0, 3),),
        loop_branches=((0, 1), (2, 3)),
        rows_per_match="all",
        measures=(Measure("rc", "A", "", "count", running=True),),
        derivation="longest",
    ).validate()
    with pytest.raises(ValueError, match="partition"):
        PatternSpec(
            variables=(
                PatternVar("A", "pa"),
                PatternVar("B", "pb"),
                PatternVar("C", "pc"),
            ),
            loop_groups=((0, 2),),
            loop_branches=((0, 1), (2, 2), (1, 1)),
            derivation="longest",
        ).validate()


# --- round 10: ALL ROWS PER MATCH for multi-branch groups --------------
# Per-row CLASSIFIER reconstructed from the branch predicates (branch
# iterations have no fixed stride, but under disjoint predicates each
# consumed row satisfies exactly one branch variable). Brute-force
# oracle: re.finditer spans + char-determined per-row classifier.


ALLROWS_BRANCH_BODY = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES COUNT(A.*) AS na, COUNT(C.*) AS nc, MATCH_NUMBER() AS mn
ALL ROWS PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((A B | C D)+ E)
DEFINE A AS event_id % 6 = 1, B AS event_id % 6 = 2,
       C AS event_id % 6 = 3, D AS event_id % 6 = 4,
       E AS event_id % 6 = 5
"""

ALLROWS_MIXED_BODY = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES COUNT(A.*) AS na, COUNT(C.*) AS nc, MATCH_NUMBER() AS mn
ALL ROWS PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((A | C D)+ E)
DEFINE A AS event_id % 6 = 1, C AS event_id % 6 = 3,
       D AS event_id % 6 = 4, E AS event_id % 6 = 5
"""

#: a row satisfying A AND C -> classification is ambiguous -> loud
ALLROWS_OVERLAP_BODY = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES MATCH_NUMBER() AS mn
ALL ROWS PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((A B | C D)+)
DEFINE A AS event_id IN (1, 7), B AS event_id IN (2, 8),
       C AS event_id IN (3, 7), D AS event_id = 4
"""


def _events_df(spark, rows):
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(u, base + timedelta(minutes=mo), e) for u, mo, e in rows],
        "user_id long, ts timestamp, event_id long",
    )


def _all_rows_expected(rows_by_user, rx, letter_var):
    """(user, minute, classifier, mn) per emitted row from the re
    oracle: finditer spans under SKIP PAST LAST, classifier = the
    char's own variable, mn = 1-based match ordinal per key."""
    out = []
    for u, urows in rows_by_user.items():
        s = "".join(_LETTER[e % 6] for _, e in urows)
        for mn, mt in enumerate(rx.finditer(s), start=1):
            for pos in range(mt.start(), mt.end()):
                out.append(
                    (u, urows[pos][0], letter_var[s[pos]], mn)
                )
    return sorted(out)


def _rand_user_rows(seed, pool, n_users=5, n_rows=60):
    import random

    rng = random.Random(seed)
    by_user = {}
    for u in range(n_users):
        by_user[u] = [
            (i, rng.choice(pool))
            for i in range(rng.randrange(n_rows // 2, n_rows))
        ]
    return by_user


def _run_all_rows(spark, by_user, body):
    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    rows = [
        (u, mo, e) for u, urows in by_user.items() for mo, e in urows
    ]
    out = match_recognize(
        _events_df(spark, rows), body, tiebreak_col="event_id"
    )
    return sorted(
        (r["user_id"], r["ts"].minute + 60 * r["ts"].hour,
         r["classifier"], r["mn"])
        for r in out.collect()
    )


_AB_CD_E = re.compile(r"(?:ab|cd)+z")
_A_CD_E = re.compile(r"(?:a|cd)+z")
_VAR_OF = {"a": "A", "b": "B", "c": "C", "d": "D", "z": "E"}


def test_all_rows_branch_matches_re(spark):
    for seed in (0, 1, 2):
        by_user = _rand_user_rows(seed, [1, 2, 3, 4, 5, 0])
        got = _run_all_rows(spark, by_user, ALLROWS_BRANCH_BODY)
        want = _all_rows_expected(by_user, _AB_CD_E, _VAR_OF)
        assert got == want


def test_all_rows_mixed_width_matches_re(spark):
    for seed in (3, 4):
        by_user = _rand_user_rows(seed, [1, 3, 4, 5, 5, 0])
        got = _run_all_rows(spark, by_user, ALLROWS_MIXED_BODY)
        want = _all_rows_expected(by_user, _A_CD_E, _VAR_OF)
        assert got == want


def test_all_rows_branch_overlap_is_loud(spark):
    import pytest
    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    # event 7 satisfies both A and C -> a match containing it cannot
    # classify per row; the emitter must raise, not emit wrong rows
    rows = [(1, 0, 7), (1, 1, 2)]  # "ab" where the a-row is also a c-row
    out = match_recognize(
        _events_df(spark, rows), ALLROWS_OVERLAP_BODY,
        tiebreak_col="event_id",
    )
    with pytest.raises(Exception, match="pairwise-disjoint"):
        out.collect()


def test_all_rows_branch_exclusion(spark):
    """{- var -} inside a branch body (round 10 — previously a parse
    reject, consequence-free until ALL ROWS landed): the excluded
    var's rows shape the match but emit nothing."""
    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES COUNT(A.*) AS na, MATCH_NUMBER() AS mn
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN ((A {- B -} | C D)+ E)
    DEFINE A AS event_id % 6 = 1, B AS event_id % 6 = 2,
           C AS event_id % 6 = 3, D AS event_id % 6 = 4,
           E AS event_id % 6 = 5
    """
    rows = [(1, 0, 1), (1, 1, 2), (1, 2, 3), (1, 3, 4), (1, 4, 5)]
    got = sorted(
        (r["event_id"], r["classifier"])
        for r in match_recognize(
            _events_df(spark, rows), body, tiebreak_col="event_id"
        ).collect()
    )
    # the B row (event 2) is consumed but not emitted
    assert got == [(1, "A"), (3, "C"), (4, "D"), (5, "E")]


def test_branch_aggregate_and_running_measures(spark):
    """Aggregate (ONE ROW) + RUNNING (ALL ROWS) measures over
    multi-branch group vars (round 10 — was a validate reject): the
    row set reconstructs per row from the branch predicates."""
    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    one_row = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES SUM(A.event_id) AS sa, SUM(C.event_id) AS sc
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN ((A B | C D)+ E)
    DEFINE A AS event_id % 6 = 1, B AS event_id % 6 = 2,
           C AS event_id % 6 = 3, D AS event_id % 6 = 4,
           E AS event_id % 6 = 5
    """
    # a(1) b(2) c(9) d(10) a(7) b(8) e(5): one match
    rows = [(1, 0, 1), (1, 1, 2), (1, 2, 9), (1, 3, 10),
            (1, 4, 7), (1, 5, 8), (1, 6, 5)]
    got = [
        (r["sa"], r["sc"])
        for r in match_recognize(
            _events_df(spark, rows), one_row, tiebreak_col="event_id"
        ).collect()
    ]
    assert got == [(8, 9)]  # A rows 1+7; C row 9

    all_rows = one_row.replace(
        "MEASURES SUM(A.event_id) AS sa, SUM(C.event_id) AS sc",
        "MEASURES RUNNING COUNT(A.*) AS rca",
    ).replace("ONE ROW PER MATCH", "ALL ROWS PER MATCH")
    got2 = sorted(
        (r["ts"].minute, r["classifier"], r["rca"])
        for r in match_recognize(
            _events_df(spark, rows), all_rows, tiebreak_col="event_id"
        ).collect()
    )
    assert got2 == [
        (0, "A", 1), (1, "B", 1), (2, "C", 1), (3, "D", 1),
        (4, "A", 2), (5, "B", 2), (6, "E", 2),
    ]


# --- round 10: mixed-width branch kernel (break-mask islands) ----------


MIXED_BODY = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES FIRST(U.ts) AS fu, LAST(U.ts) AS lu,
         COUNT(A.*) AS na, COUNT(C.*) AS ncd, MATCH_NUMBER() AS mn
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((A | C D)+)
SUBSET U = (A, C, D)
DEFINE A AS event_id % 5 = 1, C AS event_id % 5 = 3,
       D AS event_id % 5 = 4
"""

MIXED_BODY_W3 = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES COUNT(A.*) AS na, COUNT(C.*) AS ncde, CLASSIFIER() AS cl
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((A B | C D E)+)
DEFINE A AS event_id % 6 = 1, B AS event_id % 6 = 2,
       C AS event_id % 6 = 3, D AS event_id % 6 = 4,
       E AS event_id % 6 = 5
"""

MIXED_BODY_OVERLAP = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES COUNT(A.*) AS na, COUNT(C.*) AS ncd
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((A | C D)+)
DEFINE A AS event_id IN (1, 8), C AS event_id IN (3, 8),
       D AS event_id = 4
"""


def test_mixed_branch_kernel_selected(spark):
    from flink_cep_examples_spark.operators.planner import choose_tier

    df0 = _events_df(spark, [(0, 0, 1)])
    assert choose_tier(df0, parse_match_recognize(MIXED_BODY)).name == "regex"
    assert choose_tier(
        df0, parse_match_recognize(MIXED_BODY_W3)
    ).name == "regex"
    # equal widths and SKIP TO NEXT ROW run on the regex tier too
    eq = parse_match_recognize(
        MIXED_BODY_W3.replace(
            "PATTERN ((A B | C D E)+)", "PATTERN ((A B | C D)+)"
        ).replace(", E AS event_id % 6 = 5", "")
    )
    assert choose_tier(df0, eq).name == "regex"
    nxt = parse_match_recognize(
        MIXED_BODY.replace("SKIP PAST LAST ROW", "SKIP TO NEXT ROW")
    )
    assert choose_tier(df0, nxt).name == "regex"


def _mixed_diff(spark, rows, body):
    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    df = _events_df(spark, rows)
    fast = sorted(
        map(tuple, match_recognize(
            df, body, tiebreak_col="event_id"
        ).collect())
    )
    nfa = sorted(
        map(tuple, match_recognize(
            df, body, tiebreak_col="event_id", use_fast_path=False
        ).collect())
    )
    assert fast == nfa
    return fast


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_mixed_branch_kernel_matches_nfa(spark, seed):
    import random

    rng = random.Random(seed * 13 + 1)
    rows = [
        (u, i, rng.choice([1, 1, 3, 4, 3, 4, 0, 2]))
        for u in range(6)
        for i in range(rng.randrange(60, 120))
    ]
    assert _mixed_diff(spark, rows, MIXED_BODY)


@pytest.mark.parametrize("seed", [10, 11])
def test_mixed_branch_width3_matches_nfa(spark, seed):
    """Widths 2|3: validity must propagate THROUGH chunk interiors (a
    D missing its E invalidates its C too) — the fixpoint pass the
    one-step break mask gets wrong (caught by this differential
    during round 10 development)."""
    import random

    rng = random.Random(seed * 13 + 1)
    rows = [
        (u, i, rng.choice([1, 2, 1, 2, 3, 4, 5, 0]))
        for u in range(6)
        for i in range(rng.randrange(60, 120))
    ]
    assert _mixed_diff(spark, rows, MIXED_BODY_W3)


def test_mixed_branch_dangling_interior_pin(spark):
    """c d b: the d lacks its e, which must invalidate the c as well —
    the island is empty, not a 1-unit [c] match."""
    rows = [(1, 0, 3), (1, 1, 4), (1, 2, 2)]
    got = _mixed_diff(spark, rows, MIXED_BODY_W3)
    assert got == []


def test_mixed_branch_overlap_falls_back(spark):
    import random

    rng = random.Random(5)
    rows = [(u, i, rng.randrange(0, 9)) for u in range(5) for i in range(50)]
    _mixed_diff(spark, rows, MIXED_BODY_OVERLAP)


MIXED_BODY_W223 = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES COUNT(A.*) AS na, COUNT(C.*) AS nc, COUNT(E.*) AS ne
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((A B | C D | E F G)+)
DEFINE A AS event_id % 8 = 1, B AS event_id % 8 = 2,
       C AS event_id % 8 = 3, D AS event_id % 8 = 4,
       E AS event_id % 8 = 5, F AS event_id % 8 = 6,
       G AS event_id % 8 = 7
"""


@pytest.mark.parametrize("seed", [0, 3])
def test_mixed_branch_partially_equal_widths(spark, seed):
    """Widths {2, 2, 3}: two branches SHARE a width while a third
    differs — the islands kernel accepts (len(widths set) > 1) and
    each row still knows its unique (branch, offset)."""
    import random

    rng = random.Random(seed * 23 + 9)
    rows = [
        (u, i, rng.choice([1, 2, 3, 4, 5, 6, 7, 1, 2, 0]))
        for u in range(6)
        for i in range(rng.randrange(70, 130))
    ]
    assert _mixed_diff(spark, rows, MIXED_BODY_W223)


# --- round 11: RUNNING measures over branch-group vars -----------------


def test_branch_running_measures_match_re(spark):
    """RUNNING SUM/COUNT over multi-branch group vars (VERDICT r10
    item 3): the running series walks the var's CLASSIFIED rows —
    branch predicates, no fixed stride — clipped to the current
    output row. Oracle: re finditer spans + per-position running
    values; fast-vs-NFA agreement checked alongside."""
    import random

    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    rx = re.compile(r"(?:ab|cd)+")
    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES RUNNING SUM(C.event_id) AS rsc,
             RUNNING COUNT(A.*) AS rca
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN ((A B | C D)+)
    DEFINE A AS event_id % 5 = 1, B AS event_id % 5 = 2,
           C AS event_id % 5 = 3, D AS event_id % 5 = 4
    """
    for seed in (0, 1):
        rng = random.Random(seed * 17 + 3)
        by_user = {
            u: [(i, rng.randrange(0, 20))
                for i in range(rng.randrange(40, 70))]
            for u in range(5)
        }
        rows = [
            (u, mo, e) for u, ur in by_user.items() for mo, e in ur
        ]
        df = _events_df(spark, rows)
        fast_rows = match_recognize(
            df, body, tiebreak_col="event_id"
        ).collect()
        nfa_rows = match_recognize(
            df, body, tiebreak_col="event_id", use_fast_path=False
        ).collect()
        assert sorted(map(tuple, fast_rows)) == sorted(
            map(tuple, nfa_rows)
        )
        got = sorted(
            (r["user_id"], r["ts"].minute + 60 * r["ts"].hour,
             -1.0 if r["rsc"] is None else float(r["rsc"]), r["rca"])
            for r in fast_rows
        )
        want = []
        for u, urows in by_user.items():
            s = "".join(_LETTER[e % 5] for _, e in urows)
            for mt in rx.finditer(s):
                rsc = None
                rca = 0
                for p in range(mt.start(), mt.end()):
                    if s[p] == "c":
                        rsc = (rsc or 0) + urows[p][1]
                    elif s[p] == "a":
                        rca += 1
                    want.append((
                        u, urows[p][0],
                        -1.0 if rsc is None else float(rsc), rca,
                    ))
        assert got == sorted(want)


@pytest.mark.parametrize("seed", [4, 19])
def test_mixed_branch_aggregates_match_nfa(spark, seed):
    """FINAL aggregates on the mixed-width ISLANDS kernel (round 11):
    per-island reductions over each var's predicate-selected rows —
    exact under the kernel's runtime disjointness check; the NFA
    classify path is the differential oracle."""
    from flink_cep_examples_spark.operators.planner import choose_tier
    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES SUM(A.event_id) AS sa, AVG(C.event_id) AS ac,
             MIN(D.event_id) AS md, COUNT(C.event_id) AS nc
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN ((A | C D)+)
    DEFINE A AS event_id % 5 = 1, C AS event_id % 5 = 3,
           D AS event_id % 5 = 4
    """
    import random

    rng = random.Random(seed * 31 + 7)
    rows = [
        (u, i, rng.choice([1, 1, 3, 4, 3, 4, 0, 2]))
        for u in range(6)
        for i in range(rng.randrange(60, 110))
    ]
    df = _events_df(spark, rows)
    assert choose_tier(df, parse_match_recognize(body)).name == "regex"

    def norm(rows_):
        out = []
        for r in rows_:
            out.append(
                tuple(
                    (v is None, round(v, 6) if isinstance(v, float) else v)
                    for v in r
                )
            )
        return sorted(out)

    fast = norm(
        map(
            tuple,
            match_recognize(df, body, tiebreak_col="event_id").collect(),
        )
    )
    nfa = norm(
        map(
            tuple,
            match_recognize(
                df, body, tiebreak_col="event_id", use_fast_path=False
            ).collect(),
        )
    )
    assert fast == nfa
    assert fast, "fixture must exercise matches"


ALLROWS_RUNNING_BODY = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES RUNNING COUNT(A.*) AS ra, RUNNING SUM(A.event_id) AS sa,
         RUNNING MIN(D.event_id) AS mnd, RUNNING MAX(W.event_id) AS mxw,
         RUNNING FIRST(W.ts) AS fw, RUNNING LAST(W.event_id) AS lw,
         RUNNING CLASSIFIER() AS rcl, FINAL COUNT(C.*) AS nc
ALL ROWS PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((A | C D)+)
SUBSET W = (A, D)
DEFINE A AS event_id % 5 = 1, C AS event_id % 5 = 3,
       D AS event_id % 5 = 4
"""


def test_branch_all_rows_running_kernel_selected(spark):
    """Round 12: RUNNING measures compile on the islands ALL-ROWS
    kernel (6.4x at 10x on the classify path before); SUM/AVG/MIN/MAX
    need the numeric dtype check, decimals keep the NFA tier."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.operators.fast_path import (
        fast_branch_all_rows_applicable,
    )

    spec = parse_match_recognize(ALLROWS_RUNNING_BODY)
    df0 = _events_df(spark, [(0, 0, 1)])
    assert not fast_branch_all_rows_applicable(spec)  # no df: NFA
    assert fast_branch_all_rows_applicable(spec, df0)
    dec = df0.withColumn(
        "event_id", F.col("event_id").cast("decimal(20,2)")
    )
    assert not fast_branch_all_rows_applicable(spec, dec)


@pytest.mark.parametrize("seed", [51, 52, 53])
def test_branch_all_rows_running_battery_matches_nfa(spark, seed):
    """Full RUNNING battery (count/sum/min/max/first/last/classifier,
    single vars AND a SUBSET union) on the islands kernel vs the NFA
    classify tier — exact row-set equality."""
    import random

    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    rng = random.Random(seed)
    rows = [
        (u, i, rng.randrange(0, 10))
        for u in range(5)
        for i in range(rng.randrange(40, 70))
    ]
    df = _events_df(spark, rows)
    fast = sorted(
        map(tuple, match_recognize(
            df, ALLROWS_RUNNING_BODY, tiebreak_col="event_id"
        ).collect())
    )
    nfa = sorted(
        map(tuple, match_recognize(
            df, ALLROWS_RUNNING_BODY, tiebreak_col="event_id",
            use_fast_path=False,
        ).collect())
    )
    assert fast == nfa and fast, seed


def test_branch_all_rows_running_overlap_fallback(spark):
    """Predicate overlap on UNMATCHED rows routes the islands kernel
    to its per-segment NFA fallback — which must compute the RUNNING
    series incrementally, not repeat FINAL values (the round-11
    streaming ADVICE bug class). B and D overlap on event_id=6 rows
    placed where no match can absorb them."""
    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES RUNNING COUNT(B.*) AS rb, RUNNING SUM(D.event_id) AS sd,
             FINAL COUNT(A.*) AS na
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN ((A B | C D)+)
    DEFINE A AS event_id = 1, B AS event_id IN (2, 6),
           C AS event_id = 3, D AS event_id IN (4, 6)
    """
    # matches: (1,2)(3,4) island; the 6-rows sit after a 0 (inert) so
    # they never join a match but make p[B] & p[D] overlap
    rows = [
        (0, 0, 1), (0, 1, 2), (0, 2, 3), (0, 3, 4),
        (0, 4, 0), (0, 5, 6), (0, 6, 0),
        (0, 7, 1), (0, 8, 2),
    ]
    df = _events_df(spark, rows)
    fast = sorted(
        map(tuple, match_recognize(
            df, body, tiebreak_col="event_id"
        ).collect())
    )
    nfa = sorted(
        map(tuple, match_recognize(
            df, body, tiebreak_col="event_id", use_fast_path=False
        ).collect())
    )
    assert fast == nfa and fast
    # the running series actually varies inside the 4-row match
    cols = {f.name: i for i, f in enumerate(match_recognize(
        df, body, tiebreak_col="event_id").schema.fields)}
    vals = sorted(r[cols["rb"]] for r in fast if r[cols["na"]] == 1)
    assert vals[0] == 0 and vals[-1] == 1


@pytest.mark.parametrize("seed", [71, 72])
def test_branch_all_rows_running_width3_matches_nfa(spark, seed):
    """RUNNING battery on WIDTH-3 mixed branches ((A | C D E)+) — the
    islands geometry with a 3-row chunk; running series must track
    predicate-classified rows across chunk interiors."""
    import random

    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES RUNNING COUNT(E.*) AS re, RUNNING SUM(D.event_id) AS sd,
             RUNNING LAST(W.event_id) AS lw, FINAL COUNT(A.*) AS na
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN ((A | C D E)+)
    SUBSET W = (A, E)
    DEFINE A AS event_id % 6 = 1, C AS event_id % 6 = 3,
           D AS event_id % 6 = 4, E AS event_id % 6 = 5
    """
    rng = random.Random(seed)
    rows = [
        (u, i, rng.randrange(0, 12))
        for u in range(5)
        for i in range(rng.randrange(40, 70))
    ]
    df = _events_df(spark, rows)
    fast = sorted(
        map(tuple, match_recognize(
            df, body, tiebreak_col="event_id"
        ).collect())
    )
    nfa = sorted(
        map(tuple, match_recognize(
            df, body, tiebreak_col="event_id", use_fast_path=False
        ).collect())
    )
    assert fast == nfa and fast, seed


def test_branch_all_rows_running_with_exclusion_matches_nfa(spark):
    """{- D -} inside a branch: excluded rows advance the RUNNING
    state (pre-keep series) but emit nothing — kernel vs NFA exact."""
    import random

    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES RUNNING COUNT(D.*) AS rd, RUNNING SUM(D.event_id) AS sd,
             FINAL COUNT(A.*) AS na
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN ((A | C {- D -})+)
    DEFINE A AS event_id % 5 = 1, C AS event_id % 5 = 3,
           D AS event_id % 5 = 4
    """
    saw_advanced = False
    for seed in (81, 82):
        rng = random.Random(seed)
        rows = [
            (u, i, rng.randrange(0, 10))
            for u in range(4)
            for i in range(rng.randrange(40, 60))
        ]
        df = _events_df(spark, rows)
        fast = sorted(
            map(tuple, match_recognize(
                df, body, tiebreak_col="event_id"
            ).collect())
        )
        nfa = sorted(
            map(tuple, match_recognize(
                df, body, tiebreak_col="event_id", use_fast_path=False
            ).collect())
        )
        assert fast == nfa and fast, seed
        # D rows advanced the count invisibly: no D row is ever
        # emitted, yet some emitted row (an A after a C-D chunk)
        # carries rd >= 1 — observable on at least one seed
        cols = {f.name: i for i, f in enumerate(match_recognize(
            df, body, tiebreak_col="event_id").schema.fields)}
        assert all(r[cols["classifier"]] != "D" for r in fast)
        saw_advanced |= any(r[cols["rd"]] >= 1 for r in fast)
    assert saw_advanced
