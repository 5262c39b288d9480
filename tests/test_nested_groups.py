"""NESTED unbounded groups — ``((A B)+ C)+`` (round 8): round 7's
last structural reject. A nested group is just MORE loop-back edges
in the sub-NFA: every group end loops back to its group's start, and
a SHARED end variable (``(A (B C)+)+``) carries the union of its
groups' starts. Derivation stays LONGEST (held completions per
start).

Brute-force oracle: on classified row strings these are exactly
Python ``re`` leftmost-greedy nested quantifiers —
``(?:(?:ab)+c)+`` etc. — under finditer (SKIP PAST LAST) / anchored
match-per-start (SKIP TO NEXT).
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from flink_cep_examples_spark.operators import nfa as N
from flink_cep_examples_spark.sql.match_recognize import (
    match_recognize,
    parse_match_recognize,
)

_LETTER = {0: ".", 1: "a", 2: "b", 3: "c", 4: "d"}


def _body(pattern: str, defines: str, skip: str = "SKIP PAST LAST ROW"):
    return f"""
    PARTITION BY id ORDER BY event_time
    MEASURES COUNT(A.*) AS na
    ONE ROW PER MATCH
    AFTER MATCH {skip}
    PATTERN ({pattern})
    DEFINE {defines}
    """


_DEF3 = "A AS m = 1, B AS m = 2, C AS m = 3"
_DEF4 = _DEF3 + ", D AS m = 4"


def _drive(spec, ms, n_preds):
    eng = N.Nfa(spec)
    stt = N.NfaState()
    out = []
    for i, m in enumerate(ms):
        preds = tuple(m == cls for cls in range(1, n_preds + 1))
        mt, _ = eng.step(stt, i * 1000, preds, i)
        out.extend(mt)
    mt, _ = eng.finish(stt)
    out.extend(mt)
    return sorted(
        (min(s[3] for s in d.values()), max(s[4] for s in d.values()))
        for d in out
    )


def _finditer(rx, ms):
    s = "".join(_LETTER[m] for m in ms)
    return sorted((mt.start(), mt.end() - 1) for mt in rx.finditer(s))


def _per_start(rx, ms):
    s = "".join(_LETTER[m] for m in ms)
    return sorted(
        (i, mt.end() - 1)
        for i in range(len(s))
        for mt in [rx.match(s, i)]
        if mt
    )


_SHAPES = [
    ("((A B)+ C)+", _DEF3, 3, re.compile(r"(?:(?:ab)+c)+")),
    ("(A (B C)+)+", _DEF3, 3, re.compile(r"(?:a(?:bc)+)+")),
    ("(A (B C)+ D)+", _DEF4, 4, re.compile(r"(?:a(?:bc)+d)+")),
    # round 9: THREE-level nesting (depth-generic loop-back edges) —
    # distinct-end, all-shared-end, and mid-shared-end variants
    ("(((A B)+ C)+ D)+", _DEF4, 4, re.compile(r"(?:(?:(?:ab)+c)+d)+")),
    ("(A (B (C D)+)+)+", _DEF4, 4, re.compile(r"(?:a(?:b(?:cd)+)+)+")),
    ("((A (B C)+)+ D)+", _DEF4, 4, re.compile(r"(?:(?:a(?:bc)+)+d)+")),
]


def test_parser_records_nested_groups():
    spec = parse_match_recognize(_body("((A B)+ C)+", _DEF3))
    assert sorted(spec.loop_groups) == [(0, 1), (0, 2)]
    assert spec.derivation == "longest"
    from flink_cep_examples_spark.operators.fast_path import (
        fast_loop_chain_applicable,
    )

    assert not fast_loop_chain_applicable(spec)  # no fixed stride


def test_validate_guards():
    # identical spans are degenerate (((A B)+)+ == (A B)+)
    with pytest.raises(ValueError, match="disjoint or properly nested"):
        parse_match_recognize(_body("((A B)+)+", "A AS m = 1, B AS m = 2"))
    # THREE-level nesting parses since round 9, FOUR since round 10
    # (depth-generic loop-back edges, re-differential-validated:
    # 7.5k burst-mutation sequences / 9.5k matches across the three
    # depth-4 end-sharing families, test_depth4_* below); FIVE stays
    # a named loud reject until someone differential-validates deeper
    spec3 = parse_match_recognize(_body("((((A B)+ C)+ D)+)", _DEF4))
    assert sorted(spec3.loop_groups) == [(0, 1), (0, 2), (0, 3)]
    spec4 = parse_match_recognize(
        _body("(((((A B)+ C)+ D)+ E)+)", _DEF4 + ", E AS m = 5")
    )
    assert sorted(spec4.loop_groups) == [
        (0, 1), (0, 2), (0, 3), (0, 4)
    ]
    with pytest.raises(
        NotImplementedError, match="more than four levels"
    ):
        parse_match_recognize(
            _body(
                "((((((A B)+ C)+ D)+ E)+ F)+)",
                _DEF4 + ", E AS m = 5, F AS m = 6",
            )
        )
    # ALL ROWS over nested groups VALIDATES since round 10 (per-row
    # classifier from the variable predicates — no stride needed)
    parse_match_recognize(
        _body("((A B)+ C)+", _DEF3).replace(
            "ONE ROW PER MATCH", "ALL ROWS PER MATCH"
        )
    ).validate()
    # aggregates over nested vars VALIDATE since round 10 (row set
    # reconstructed per row from the variable predicates)
    parse_match_recognize(
        _body("((A B)+ C)+", _DEF3).replace(
            "COUNT(A.*) AS na", "SUM(A.m) AS sa"
        )
    ).validate()


@pytest.mark.parametrize("pattern,defines,np_,rx", _SHAPES)
@settings(max_examples=250, deadline=None)
@given(ms=st.lists(st.integers(min_value=0, max_value=4), max_size=30))
def test_nested_skip_past_matches_re(pattern, defines, np_, rx, ms):
    spec = parse_match_recognize(_body(pattern, defines))
    assert _drive(spec, ms, np_) == _finditer(rx, ms)


@settings(max_examples=250, deadline=None)
@given(ms=st.lists(st.integers(min_value=0, max_value=3), max_size=26))
def test_nested_skip_to_next_matches_re(ms):
    spec = parse_match_recognize(
        _body("((A B)+ C)+", _DEF3, skip="SKIP TO NEXT ROW")
    )
    rx = re.compile(r"(?:(?:ab)+c)+")
    assert _drive(spec, ms, 3) == _per_start(rx, ms)


def test_nested_spark_end_to_end(spark):
    """Measures over nested-group vars through the full operator:
    a b a b c a b c is ONE outer match (2 outer iterations, 3 inner),
    COUNT per var exact."""
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    ms = [1, 2, 1, 2, 3, 1, 2, 3, 0, 1, 2, 3]
    df = spark.createDataFrame(
        [(1, base + timedelta(minutes=i), m) for i, m in enumerate(ms)],
        "id long, event_time timestamp, m long",
    )
    out = match_recognize(
        df,
        """
        PARTITION BY id ORDER BY event_time
        MEASURES COUNT(A.*) AS na, COUNT(C.*) AS nc,
                 FIRST(A.event_time) AS fa, LAST(C.event_time) AS lc
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (((A B)+ C)+)
        DEFINE A AS m = 1, B AS m = 2, C AS m = 3
        """,
        tiebreak_col="m",
    )
    rows = sorted(out.collect(), key=lambda r: r["fa"])
    assert [(r["na"], r["nc"]) for r in rows] == [(3, 2), (1, 1)]


# --- round 8.2: two-level chain kernel vs NFA -------------------------


def _events_df(spark, rows):
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(u, base + timedelta(minutes=mo), e) for u, mo, e in rows],
        "user_id long, ts timestamp, event_id long",
    )


def _random_rows(seed, n_users=6, n_rows=90, classes=5):
    import random

    rng = random.Random(seed)
    rows = []
    for u in range(n_users):
        for i in range(rng.randrange(n_rows // 2, n_rows)):
            rows.append((u, i, rng.randrange(0, classes)))
    return rows


NESTED_BODY = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES FIRST(A.ts) AS fa, LAST(C.ts) AS lc,
         COUNT(A.*) AS n_pairs, COUNT(C.*) AS n_units,
         MATCH_NUMBER() AS mn
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN (((A B)+ C)+)
DEFINE A AS event_id % 4 = 1, B AS event_id % 4 = 2,
       C AS event_id % 4 = 3
"""

NESTED_BODY_MID = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES FIRST(A.ts) AS fa, LAST(D.ts) AS ld,
         COUNT(B.*) AS nb, COUNT(D.*) AS nd
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((A (B C)+ D)+)
DEFINE A AS event_id % 5 = 1, B AS event_id % 5 = 2,
       C AS event_id % 5 = 3, D AS event_id % 5 = 4
"""

#: OVERLAPPING predicates (a row may satisfy A and C) — the kernel
#: must detect the overlap at runtime and fall back to the NFA
NESTED_BODY_OVERLAP = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES COUNT(A.*) AS n_pairs, COUNT(C.*) AS n_units
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN (((A B)+ C)+)
DEFINE A AS event_id IN (1, 5), B AS event_id IN (2, 6),
       C AS event_id IN (3, 5)
"""


def test_nested_kernel_selected():
    from flink_cep_examples_spark.operators.regex_scan import regex_plan

    spec = parse_match_recognize(NESTED_BODY)
    assert regex_plan(spec).forced  # symbol-forced regex tier shape
    nxt = parse_match_recognize(
        NESTED_BODY.replace("SKIP PAST LAST ROW", "SKIP TO NEXT ROW")
    )
    assert regex_plan(nxt).forced


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_nested_kernel_matches_nfa(spark, seed):
    df = _events_df(spark, _random_rows(seed))
    fast = sorted(
        map(tuple, match_recognize(
            df, NESTED_BODY, tiebreak_col="event_id"
        ).collect())
    )
    nfa = sorted(
        map(tuple, match_recognize(
            df, NESTED_BODY, tiebreak_col="event_id", use_fast_path=False
        ).collect())
    )
    assert fast == nfa and fast


@pytest.mark.parametrize("seed", [4, 5])
def test_nested_kernel_mid_matches_nfa(spark, seed):
    df = _events_df(spark, _random_rows(seed, n_rows=140, classes=6))
    fast = sorted(
        map(tuple, match_recognize(
            df, NESTED_BODY_MID, tiebreak_col="event_id"
        ).collect())
    )
    nfa = sorted(
        map(tuple, match_recognize(
            df, NESTED_BODY_MID, tiebreak_col="event_id",
            use_fast_path=False,
        ).collect())
    )
    assert fast == nfa


def test_nested_kernel_overlap_falls_back(spark):
    rows = []
    import random

    rng = random.Random(9)
    for u in range(6):
        for i in range(18):
            rows.append((u, i, rng.randrange(0, 7)))
    df = _events_df(spark, rows)
    fast = sorted(
        map(tuple, match_recognize(
            df, NESTED_BODY_OVERLAP, tiebreak_col="event_id"
        ).collect())
    )
    nfa = sorted(
        map(tuple, match_recognize(
            df, NESTED_BODY_OVERLAP, tiebreak_col="event_id",
            use_fast_path=False,
        ).collect())
    )
    assert fast == nfa


def test_nested_within_kernel_caps(spark):
    """Nested groups + WITHIN compile to the two-level chain kernel
    (round 9 — previously a decline that routed the shape to the
    per-key Python NFA): under disjoint predicates the deadline only
    truncates the outer unit count. Strict-< boundary pinned on BOTH
    tiers: the second unit's C at exactly start+30min is out, one
    minute earlier is in; the deadline-cut unit then starts its own
    match (SKIP PAST LAST resumption)."""
    from flink_cep_examples_spark.operators.regex_scan import regex_plan

    body = NESTED_BODY.replace(
        "PATTERN (((A B)+ C)+)",
        "PATTERN (((A B)+ C)+) WITHIN INTERVAL '30' MINUTE",
    )
    spec = parse_match_recognize(body)
    assert spec.within is not None
    assert regex_plan(spec) is not None

    rows = [
        # user 1: unit2's C lands at exactly start+30 -> run 0 expires
        # holding only unit1; resumption matches unit2 separately (its
        # own start at +3 puts the C at +27, inside ITS deadline)
        (1, 0, 1), (1, 1, 2), (1, 2, 3), (1, 3, 1), (1, 4, 2), (1, 30, 3),
        # user 2: same shape, C at +29 -> both units in one match
        (2, 0, 1), (2, 1, 2), (2, 2, 3), (2, 3, 1), (2, 4, 2), (2, 29, 3),
        # user 3: the FIRST unit alone exceeds the deadline from its
        # own start (C at +31) -> no match can begin at unit1; unit2
        # (start +33, C at +40) fits alone
        (3, 0, 1), (3, 1, 2), (3, 31, 3), (3, 33, 1), (3, 34, 2), (3, 40, 3),
        # user 4 (round-10 ADVICE pin): a MULTI-pair unit whose full
        # span exceeds the deadline (A@0..C@31) but whose pair-SUFFIX
        # fits (A@10..C@31 = 21 min) — the NFA retries at the next
        # row after the dead attempt, so the suffix MUST match; the
        # kernel used to skip the whole dead unit and emit nothing
        (4, 0, 1), (4, 1, 2), (4, 10, 1), (4, 11, 2), (4, 31, 3),
    ]
    df = _events_df(spark, rows)
    fast = sorted(
        (r["user_id"], r["n_units"], r["n_pairs"])
        for r in match_recognize(
            df, body, tiebreak_col="event_id"
        ).collect()
    )
    nfa = sorted(
        (r["user_id"], r["n_units"], r["n_pairs"])
        for r in match_recognize(
            df, body, tiebreak_col="event_id", use_fast_path=False
        ).collect()
    )
    assert fast == nfa == [
        (1, 1, 1), (1, 1, 1), (2, 2, 2), (3, 1, 1), (4, 1, 1),
    ]


@pytest.mark.parametrize("seed", [6, 7, 8])
def test_nested_within_kernel_matches_nfa(spark, seed):
    """Randomized fast-vs-NFA differential for nested groups + WITHIN,
    with a deadline tight enough to split chains frequently."""
    body = NESTED_BODY.replace(
        "PATTERN (((A B)+ C)+)",
        "PATTERN (((A B)+ C)+) WITHIN INTERVAL '5' MINUTE",
    )
    df = _events_df(spark, _random_rows(seed, n_rows=160))
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


def _gapped_rows(seed, n_users=6, n_rows=160):
    """Random rows with RANDOM ts gaps (0-3 min) and no noise class —
    long pair runs with uneven spacing, so under a 5-minute deadline
    multi-pair units regularly exceed the deadline while a pair-suffix
    still fits (the round-10 dead-unit retry shape; the uniform
    minute-spaced generator above needs a >=3-pair unit for that,
    ~1e-4 per row — this one produces it every few units)."""
    import random

    rng = random.Random(seed)
    rows = []
    for u in range(n_users):
        t = 0
        for _ in range(rng.randrange(n_rows // 2, n_rows)):
            t += rng.randrange(0, 4)
            rows.append((u, t, rng.choice([1, 1, 2, 2, 3])))
    return rows


@pytest.mark.parametrize("seed", [9, 10, 11, 12])
def test_nested_within_dead_unit_suffix_matches_nfa(spark, seed):
    """Fast-vs-NFA differential on the gapped generator: dead units
    with viable pair-suffixes occur throughout (round-10 ADVICE —
    the old kernel/oracle dropped those matches silently)."""
    body = NESTED_BODY.replace(
        "PATTERN (((A B)+ C)+)",
        "PATTERN (((A B)+ C)+) WITHIN INTERVAL '5' MINUTE",
    )
    df = _events_df(spark, _gapped_rows(seed))
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


# --- round 10: THREE-level chain kernel vs NFA -------------------------


NESTED3_BODY = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES FIRST(A.ts) AS fa, LAST(D.ts) AS ld,
         COUNT(A.*) AS n_pairs, COUNT(C.*) AS n_units,
         COUNT(D.*) AS n_mids, MATCH_NUMBER() AS mn
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((((A B)+ C)+ D)+)
DEFINE A AS event_id % 5 = 1, B AS event_id % 5 = 2,
       C AS event_id % 5 = 3, D AS event_id % 5 = 4
"""

#: mid body with a PREFIX var and the superunit suffix E
NESTED3_BODY_PREFIX = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES FIRST(A.ts) AS fa, LAST(E.ts) AS le, COUNT(B.*) AS nb,
         COUNT(D.*) AS nd, COUNT(E.*) AS ne
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN (((A (B C)+ D)+ E)+)
DEFINE A AS event_id % 6 = 1, B AS event_id % 6 = 2,
       C AS event_id % 6 = 3, D AS event_id % 6 = 4,
       E AS event_id % 6 = 5
"""

#: TWO superunit-suffix vars (g = 2)
NESTED3_BODY_TWO_T = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES FIRST(A.ts) AS fa, LAST(E.ts) AS le, COUNT(A.*) AS na,
         COUNT(C.*) AS nc, COUNT(D.*) AS nd
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((((A B)+ C)+ D E)+)
DEFINE A AS event_id % 6 = 1, B AS event_id % 6 = 2,
       C AS event_id % 6 = 3, D AS event_id % 6 = 4,
       E AS event_id % 6 = 5
"""

#: a row may satisfy A and C -> runtime overlap -> NFA fallback
NESTED3_BODY_OVERLAP = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES COUNT(A.*) AS na, COUNT(C.*) AS nc, COUNT(D.*) AS nd
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((((A B)+ C)+ D)+)
DEFINE A AS event_id IN (1, 6), B AS event_id IN (2, 7),
       C AS event_id IN (3, 6), D AS event_id = 4
"""


def _burst_rows(seed, n_users=6):
    """Pattern-shaped bursts — superunits with random pair/unit
    counts, occasionally truncated (missing D / missing C / dangling
    pairs / noise), random 0-2 min ts gaps: dense match coverage the
    uniform generators can't reach (~25-45 matches per seed)."""
    import random

    rng = random.Random(seed)
    rows = []
    for u in range(n_users):
        t = 0

        def emit(e):
            nonlocal t
            t += rng.randrange(0, 3)
            rows.append((u, t, e))

        for _ in range(rng.randrange(10, 25)):
            kind = rng.random()
            if kind < 0.75:  # full superunit(s)
                for _ in range(rng.randrange(1, 3)):
                    for _ in range(rng.randrange(1, 4)):
                        emit(1)
                        emit(2)
                    emit(3)
                emit(4)
            elif kind < 0.85:  # truncated: no D
                for _ in range(rng.randrange(1, 3)):
                    emit(1)
                    emit(2)
                emit(3)
            elif kind < 0.95:  # dangling pairs, no C
                emit(1)
                emit(2)
            else:
                emit(0)  # noise
    return rows


def test_nested3_kernel_selected():
    from flink_cep_examples_spark.operators.regex_scan import regex_plan

    spec = parse_match_recognize(NESTED3_BODY)
    assert regex_plan(spec).forced
    nxt = parse_match_recognize(
        NESTED3_BODY.replace("SKIP PAST LAST ROW", "SKIP TO NEXT ROW")
    )
    assert regex_plan(nxt).forced
    for b in (NESTED3_BODY_PREFIX, NESTED3_BODY_TWO_T):
        assert regex_plan(parse_match_recognize(b)).forced


def _diff(spark, rows, body):
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
def test_nested3_kernel_matches_nfa(spark, seed):
    assert _diff(spark, _burst_rows(seed), NESTED3_BODY)


@pytest.mark.parametrize("seed", [10, 11, 12])
def test_nested3_within_matches_nfa(spark, seed):
    """WITHIN on the depth-3 kernel, incl. the dead-superunit retry
    (bursts + a 6-minute deadline split chains constantly)."""
    body = NESTED3_BODY.replace(
        "PATTERN ((((A B)+ C)+ D)+)",
        "PATTERN ((((A B)+ C)+ D)+) WITHIN INTERVAL '6' MINUTE",
    )
    assert _diff(spark, _burst_rows(seed), body)


@pytest.mark.parametrize(
    "body,pool",
    [
        (NESTED3_BODY_PREFIX, [1, 2, 3, 3, 4, 5]),
        (NESTED3_BODY_TWO_T, [1, 1, 2, 2, 3, 4, 5]),
    ],
)
def test_nested3_shapes_match_nfa(spark, body, pool):
    import random

    rng = random.Random(42)
    rows = []
    for u in range(6):
        t = 0
        for _ in range(rng.randrange(80, 140)):
            t += rng.randrange(0, 3)
            rows.append((u, t, rng.choice(pool)))
    _diff(spark, rows, body)


def test_nested3_overlap_falls_back(spark):
    import random

    rng = random.Random(9)
    rows = [(u, i, rng.randrange(0, 8)) for u in range(6) for i in range(40)]
    _diff(spark, rows, NESTED3_BODY_OVERLAP)


# --- round 10: ALL ROWS over nested groups (predicate classifier) ------


def _nested_all_rows_expected(by_user, rx, var_of):
    """(user, minute, classifier, mn) from the re oracle: finditer
    spans (SKIP PAST LAST), classifier = the char's own variable."""
    letter = {0: ".", 1: "a", 2: "b", 3: "c", 4: "d"}
    out = []
    for u, urows in by_user.items():
        s = "".join(letter[e % 5] for _, e in urows)
        for mn, mt in enumerate(rx.finditer(s), start=1):
            for pos in range(mt.start(), mt.end()):
                out.append((u, urows[pos][0], var_of[s[pos]], mn))
    return sorted(out)


NESTED_ALLROWS_BODY = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES COUNT(A.*) AS na, MATCH_NUMBER() AS mn
ALL ROWS PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN (((A B)+ C)+)
DEFINE A AS event_id % 5 = 1, B AS event_id % 5 = 2,
       C AS event_id % 5 = 3
"""

NESTED3_ALLROWS_BODY = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES COUNT(A.*) AS na, MATCH_NUMBER() AS mn
ALL ROWS PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((((A B)+ C)+ D)+)
DEFINE A AS event_id % 5 = 1, B AS event_id % 5 = 2,
       C AS event_id % 5 = 3, D AS event_id % 5 = 4
"""


@pytest.mark.parametrize(
    "body,rx",
    [
        (NESTED_ALLROWS_BODY, re.compile(r"(?:(?:ab)+c)+")),
        (NESTED3_ALLROWS_BODY, re.compile(r"(?:(?:(?:ab)+c)+d)+")),
    ],
    ids=["depth2", "depth3"],
)
def test_nested_all_rows_matches_re(spark, body, rx):
    """ALL ROWS over nested groups (round 10 — was a validate reject:
    no fixed stride): per-row classifier reconstructed from the
    variable predicates, re-differential over random rows."""
    import random

    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    var_of = {"a": "A", "b": "B", "c": "C", "d": "D"}
    for seed in (0, 1):
        rng = random.Random(seed * 7 + 3)
        by_user = {
            u: [(i, rng.choice([1, 1, 2, 2, 3, 3, 4, 0]))
                for i in range(rng.randrange(40, 70))]
            for u in range(5)
        }
        rows = [
            (u, mo, e) for u, ur in by_user.items() for mo, e in ur
        ]
        got = sorted(
            (r["user_id"], r["ts"].minute + 60 * r["ts"].hour,
             r["classifier"], r["mn"])
            for r in match_recognize(
                _events_df(spark, rows), body, tiebreak_col="event_id"
            ).collect()
        )
        assert got == _nested_all_rows_expected(by_user, rx, var_of)


def test_nested_all_rows_overlap_is_loud(spark):
    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES MATCH_NUMBER() AS mn
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (((A B)+ C)+)
    DEFINE A AS event_id IN (1, 7), B AS event_id = 2,
           C AS event_id IN (3, 7)
    """
    rows = [(1, 0, 7), (1, 1, 2), (1, 2, 3)]  # row 0 is both A and C
    out = match_recognize(
        _events_df(spark, rows), body, tiebreak_col="event_id"
    )
    with pytest.raises(Exception, match="pairwise-disjoint"):
        out.collect()


# --- round 10: aggregate measures over nested-group vars ---------------


def test_nested_aggregate_measure_matches_re(spark):
    """SUM/AVG/MIN/MAX over nested-group vars (round 10 — was a
    validate reject): the row set reconstructs per row from the
    variable predicates. Oracle: re finditer spans + per-char sums."""
    import random

    rx = re.compile(r"(?:(?:ab)+c)+")
    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES SUM(A.event_id) AS sa, MIN(B.event_id) AS mb,
             COUNT(A.*) AS na
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (((A B)+ C)+)
    DEFINE A AS event_id % 4 = 1, B AS event_id % 4 = 2,
           C AS event_id % 4 = 3
    """
    letter = {0: ".", 1: "a", 2: "b", 3: "c"}
    for seed in (0, 1):
        rng = random.Random(seed * 11 + 5)
        by_user = {
            u: [(i, rng.randrange(0, 16))
                for i in range(rng.randrange(40, 70))]
            for u in range(5)
        }
        rows = [
            (u, mo, e) for u, ur in by_user.items() for mo, e in ur
        ]
        got = sorted(
            (r["user_id"], r["sa"], r["mb"], r["na"])
            for r in match_recognize(
                _events_df(spark, rows), body, tiebreak_col="event_id"
            ).collect()
        )
        want = []
        for u, urows in by_user.items():
            s = "".join(letter[e % 4] for _, e in urows)
            for mt in rx.finditer(s):
                span = range(mt.start(), mt.end())
                a_vals = [urows[p][1] for p in span if s[p] == "a"]
                b_vals = [urows[p][1] for p in span if s[p] == "b"]
                want.append(
                    (u, sum(a_vals), min(b_vals), len(a_vals))
                )
        assert got == sorted(want)


def test_nested_aggregate_overlap_is_loud(spark):
    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES SUM(A.event_id) AS sa
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (((A B)+ C)+)
    DEFINE A AS event_id IN (1, 7), B AS event_id = 2,
           C AS event_id IN (3, 7)
    """
    rows = [(1, 0, 7), (1, 1, 2), (1, 2, 3)]  # row 0 is both A and C
    out = match_recognize(
        _events_df(spark, rows), body, tiebreak_col="event_id"
    )
    with pytest.raises(Exception, match="pairwise-disjoint"):
        out.collect()


# --- round 11: RUNNING measures over nested-group vars -----------------


def test_nested_running_measures_match_re(spark):
    """RUNNING SUM/COUNT over nested-group vars (VERDICT r10 item 3):
    the running series walks the var's CLASSIFIED rows — predicate
    reconstruction, no fixed stride — clipped to the current output
    row. Oracle: re finditer spans + per-position running sums;
    fast-vs-NFA agreement checked alongside."""
    import random

    rx = re.compile(r"(?:(?:ab)+c)+")
    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES RUNNING SUM(A.event_id) AS rsa,
             RUNNING COUNT(B.*) AS rcb
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (((A B)+ C)+)
    DEFINE A AS event_id % 4 = 1, B AS event_id % 4 = 2,
           C AS event_id % 4 = 3
    """
    letter = {0: ".", 1: "a", 2: "b", 3: "c"}
    for seed in (0, 1):
        rng = random.Random(seed * 13 + 7)
        by_user = {
            u: [(i, rng.randrange(0, 16))
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
             r["rsa"], r["rcb"])
            for r in fast_rows
        )
        want = []
        for u, urows in by_user.items():
            s = "".join(letter[e % 4] for _, e in urows)
            for mt in rx.finditer(s):
                rsa = None
                rcb = 0
                for p in range(mt.start(), mt.end()):
                    if s[p] == "a":
                        rsa = (rsa or 0) + urows[p][1]
                    elif s[p] == "b":
                        rcb += 1
                    want_rsa = float(rsa) if rsa is not None else None
                    want.append((u, urows[p][0], want_rsa, rcb))
        assert got == sorted(want)


@pytest.mark.parametrize("seed", [0, 2])
def test_nested_all_rows_within_matches_nfa(spark, seed):
    """ALL ROWS x nested groups x WITHIN on the kernel: the deadline
    walk (incl. round-10 dead-unit retries) feeds the all-rows span
    expansion — gapped timestamps keep the dead-unit shape frequent."""
    import random

    body = NESTED_ALLROWS_BODY.replace(
        "PATTERN (((A B)+ C)+)",
        "PATTERN (((A B)+ C)+) WITHIN INTERVAL '6' MINUTE",
    ).replace("% 5", "% 4")
    rng = random.Random(seed * 29 + 11)
    rows = []
    for u in range(6):
        t = 0
        for _ in range(rng.randrange(60, 120)):
            t += rng.randrange(0, 4)
            rows.append((u, t, rng.choice([1, 1, 2, 2, 3])))
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


# --- round 10: FOUR-level nesting (NFA tier, re-differentials) ----------

_LETTER5 = {0: ".", 1: "a", 2: "b", 3: "c", 4: "d", 5: "e"}
_DEF5 = _DEF4 + ", E AS m = 5"


def _gen_d4_distinct(rng):
    out = []
    for _ in range(rng.randrange(1, 3)):
        for _ in range(rng.randrange(1, 3)):
            for _ in range(rng.randrange(1, 3)):
                for _ in range(rng.randrange(1, 3)):
                    out += [1, 2]
                out.append(3)
            out.append(4)
        out.append(5)
    return out


def _gen_d4_shared(rng):
    out = []
    for _ in range(rng.randrange(1, 3)):
        out.append(1)
        for _ in range(rng.randrange(1, 3)):
            out.append(2)
            for _ in range(rng.randrange(1, 3)):
                out.append(3)
                for _ in range(rng.randrange(1, 3)):
                    out += [4, 5]
    return out


def _gen_d4_mid(rng):
    out = []
    for _ in range(rng.randrange(1, 3)):
        for _ in range(rng.randrange(1, 3)):
            out.append(1)
            for _ in range(rng.randrange(1, 3)):
                out.append(2)
                for _ in range(rng.randrange(1, 3)):
                    out += [3, 4]
        out.append(5)
    return out


_SHAPES_D4 = [
    ("((((A B)+ C)+ D)+ E)+",
     re.compile(r"(?:(?:(?:(?:ab)+c)+d)+e)+"), _gen_d4_distinct),
    ("(A (B (C (D E)+)+)+)+",
     re.compile(r"(?:a(?:b(?:c(?:de)+)+)+)+"), _gen_d4_shared),
    ("((A (B (C D)+)+)+ E)+",
     re.compile(r"(?:(?:a(?:b(?:cd)+)+)+e)+"), _gen_d4_mid),
]


@pytest.mark.parametrize("pattern,rx,gen", _SHAPES_D4)
def test_depth4_skip_past_matches_re(pattern, rx, gen):
    """FOUR-level nesting (round 10 — the depth cap lifted after this
    family validated): burst-mutation sequences (pattern-shaped bursts
    with random drops/substitutions/insertions — uniform random rows
    essentially never complete a depth-4 pattern, so the depth-3
    generator shape is useless here) vs re leftmost-greedy."""
    import random

    rng = random.Random(hash(pattern) % 10_000)
    spec = parse_match_recognize(_body(pattern, _DEF5))
    assert len(spec.loop_groups) == 4
    n_matches = 0
    for _ in range(500):
        ms = []
        for _b in range(rng.randrange(1, 4)):
            ms += gen(rng)
            for _m in range(rng.randrange(0, 4)):
                if not ms:
                    break
                op = rng.random()
                pos = rng.randrange(len(ms))
                if op < 0.4:
                    ms.pop(pos)
                elif op < 0.8:
                    ms[pos] = rng.randrange(0, 6)
                else:
                    ms.insert(pos, rng.randrange(0, 6))
        got = _drive(spec, ms, 5)
        s = "".join(_LETTER5[m] for m in ms)
        want = sorted(
            (mt.start(), mt.end() - 1) for mt in rx.finditer(s)
        )
        assert got == want
        n_matches += len(want)
    assert n_matches > 200  # the generator must actually hit matches


def test_nested_all_rows_prefix_suffix_geometry(spark):
    """ALL ROWS on the nested kernel with a PREFIX var and a 2-wide
    unit suffix — ((P (A B)+ C D)+), s=1/L=2/f=2 — exercising the
    generic span-end arithmetic (the other all-rows tests are all
    s=0/f=1)."""
    import random

    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES COUNT(A.*) AS na, COUNT(P.*) AS np_,
             SUM(D.event_id) AS sd, MATCH_NUMBER() AS mn
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN ((P (A B)+ C D)+)
    DEFINE P AS event_id % 6 = 5, A AS event_id % 6 = 1,
           B AS event_id % 6 = 2, C AS event_id % 6 = 3,
           D AS event_id % 6 = 4
    """
    rng = random.Random(17)
    rows = []
    for u in range(6):
        t = [0]

        def emit(e):
            t[0] += rng.randrange(0, 3)
            rows.append((u, t[0], e))

        for _ in range(rng.randrange(10, 22)):
            kind = rng.random()
            if kind < 0.7:
                for _ in range(rng.randrange(1, 3)):
                    emit(5)
                    for _ in range(rng.randrange(1, 4)):
                        emit(1)
                        emit(2)
                    emit(3)
                    emit(4)
            elif kind < 0.9:  # truncated unit (no D)
                emit(5)
                emit(1)
                emit(2)
                emit(3)
            else:
                emit(0)
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


NESTED_ALLROWS_RUNNING_BODY = """
PARTITION BY user_id ORDER BY ts, event_id
MEASURES RUNNING COUNT(A.*) AS ra, RUNNING SUM(A.event_id) AS sa,
         RUNNING MIN(B.event_id) AS mnb, RUNNING MAX(W.event_id) AS mxw,
         RUNNING FIRST(W.ts) AS fw, RUNNING LAST(W.event_id) AS lw,
         RUNNING CLASSIFIER() AS rcl, FINAL COUNT(C.*) AS nc
ALL ROWS PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN (((A B)+ C)+)
SUBSET W = (A, C)
DEFINE A AS event_id % 4 = 1, B AS event_id % 4 = 2,
       C AS event_id % 4 = 3
"""


def test_nested_all_rows_running_kernel_selected(spark):
    """RUNNING measures over nested groups run on the regex tier for
    any source type: the shared emission folds integers and decimals
    exactly."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.operators.planner import choose_tier
    from flink_cep_examples_spark.sql.match_recognize import (
        parse_match_recognize,
    )

    spec = parse_match_recognize(NESTED_ALLROWS_RUNNING_BODY)
    df0 = spark.createDataFrame(
        [(0, __import__("datetime").datetime(2024, 1, 1), 1)],
        "user_id long, ts timestamp, event_id long",
    )
    assert choose_tier(df0, spec).name == "regex"
    dec = df0.withColumn(
        "event_id", F.col("event_id").cast("decimal(20,2)")
    )
    assert choose_tier(dec, spec).name == "regex"


def test_nested_all_rows_running_battery_matches_nfa(spark):
    """Full RUNNING battery on the nested-chain ALL-ROWS kernel vs the
    NFA classify tier — exact row-set equality over seeded random
    fixtures."""
    import datetime as dt
    import random

    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    for seed in (61, 62, 63):
        rng = random.Random(seed)
        rows = [
            (u, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i),
             rng.randrange(0, 8))
            for u in range(5)
            for i in range(rng.randrange(40, 70))
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long"
        )
        fast = sorted(
            map(tuple, match_recognize(
                df, NESTED_ALLROWS_RUNNING_BODY, tiebreak_col="event_id"
            ).collect())
        )
        nfa = sorted(
            map(tuple, match_recognize(
                df, NESTED_ALLROWS_RUNNING_BODY,
                tiebreak_col="event_id", use_fast_path=False,
            ).collect())
        )
        assert fast == nfa and fast, seed
