"""Top-level PATTERN alternation ``(P1 | P2)`` (round 4).

The SKIP TO NEXT ROW shape is pinned by the DuckDB oracle
(queries/cep.py::ORACLE_ALTERNATION). Here: a seeded randomized
differential for SKIP PAST LAST ROW against an independent brute-force
derivation (eager earliest-completion emission + full partial discard
— ~15 lines of arithmetic over boolean flags, no NFA code shared),
plus parser/validator/measure unit semantics.
"""

from __future__ import annotations

import datetime as dt
import random

import pytest

from flink_cep_examples_spark.plans.pattern import (
    AlternationSpec,
    Measure,
    Pattern,
    PatternSpec,
    PatternVar,
    SKIP_PAST_LAST_EVENT,
    SKIP_TO_FIRST,
    TIMES,
)
from flink_cep_examples_spark.operators.cep_batch import match_pattern
from flink_cep_examples_spark.sql.match_recognize import (
    match_recognize,
    parse_match_recognize,
)

_SCHEMA = "id string, event_time timestamp, seq long, fa boolean, fc boolean, fd boolean"


def _brute_past_last(fa, fc, fd):
    """Brute-force ``(A C | A D{2})`` under SKIP PAST LAST ROW: scan
    end positions in order; branch 1 completes at e when A at e-1 and
    C at e, branch 2 at e when A at e-2 and D at e-1, e. Emission is
    eager (earliest completing row), preferring earliest start then
    leftmost branch; a match discards every partial, so later
    candidates must start AFTER the emitted match's last row."""
    n = len(fa)
    out = []
    blocked = -1  # last row of the previous match
    for e in range(n):
        comps = []
        if e >= 1 and fa[e - 1] and fc[e] and e - 1 > blocked:
            comps.append((e - 1, 0))
        if e >= 2 and fa[e - 2] and fd[e - 1] and fd[e] and e - 2 > blocked:
            comps.append((e - 2, 1))
        if comps:
            s, b = min(comps)
            out.append((s, b))
            blocked = e
    return out


def _alt_spec(after_match=SKIP_PAST_LAST_EVENT):
    mk = lambda *vs: PatternSpec(
        variables=vs, key_cols=("id",), order_col="event_time",
        after_match=after_match,
    )
    return AlternationSpec(
        alternatives=(
            mk(PatternVar("A", "fa"), PatternVar("C", "fc")),
            mk(
                PatternVar("A", "fa"),
                PatternVar("D", "fd", quantifier=TIMES, times=(2, 2)),
            ),
        ),
        measures=(
            Measure("start_seq", "A", "seq", "first"),
            Measure("cls", "", "", "classifier"),
        ),
    )


def test_alternation_past_last_matches_brute_force(spark):
    rng = random.Random(42)
    rows = []
    expected = []
    for key in range(20):
        n = rng.randint(5, 40)
        fa = [rng.random() < 0.35 for _ in range(n)]
        fc = [rng.random() < 0.35 for _ in range(n)]
        fd = [rng.random() < 0.5 for _ in range(n)]
        kid = f"k{key}"
        for i in range(n):
            rows.append(
                (kid, dt.datetime(2020, 5, 1) + dt.timedelta(minutes=i), i,
                 fa[i], fc[i], fd[i])
            )
        for s, b in _brute_past_last(fa, fc, fd):
            expected.append((kid, s, "C" if b == 0 else "D"))
    df = spark.createDataFrame(rows, _SCHEMA)
    got = [
        (r.id, r.start_seq, r.cls)
        for r in match_pattern(df, _alt_spec()).collect()
    ]
    assert sorted(got) == sorted(expected)


def test_alternation_leftmost_preference_on_same_row_tie(spark):
    """Both branches completing on the SAME row with the same start
    prefer the leftmost alternative."""
    # A at 0; C and D{2} both complete at row 2? Branch C completes at
    # row 1 if fc[1] — to force a same-row tie give branch1 shape A X C
    # instead: simpler: start rows differ → earliest start wins.
    rows = [
        ("k", dt.datetime(2020, 5, 1, 11, 0), 0, True, False, True),
        ("k", dt.datetime(2020, 5, 1, 11, 1), 1, True, False, True),
        ("k", dt.datetime(2020, 5, 1, 11, 2), 2, False, True, True),
    ]
    # branch1 (A C): start 1, completes at row 2. branch2 (A D{2}):
    # start 0, completes at row 2. Earliest start (0) wins → 'D'.
    df = spark.createDataFrame(rows, _SCHEMA)
    got = [
        (r.start_seq, r.cls)
        for r in match_pattern(df, _alt_spec()).collect()
    ]
    assert got == [(0, "D")]


def test_parser_builds_alternation_spec():
    spec = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time
        MEASURES A.seq AS s, CLASSIFIER() AS c
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (A C | A D{2})
        DEFINE A AS fa, C AS fc, D AS fd
        """
    )
    assert isinstance(spec, AlternationSpec)
    assert len(spec.alternatives) == 2
    assert [v.name for v in spec.alternatives[0].variables] == ["A", "C"]
    assert [v.name for v in spec.alternatives[1].variables] == ["A", "D"]
    assert spec.alternatives[1].variables[1].times == (2, 2)


def test_alternation_rejects_skip_to_var():
    import dataclasses

    spec = _alt_spec()
    bad = AlternationSpec(
        alternatives=tuple(
            dataclasses.replace(a, after_match=SKIP_TO_FIRST, skip_var="A")
            for a in spec.alternatives
        ),
        measures=spec.measures,
    )
    with pytest.raises(NotImplementedError, match="SKIP"):
        bad.validate()


def test_alternation_unmatched_branch_measures_null(spark):
    rows = [
        ("k", dt.datetime(2020, 5, 1, 11, 0), 0, True, True, False),
        ("k", dt.datetime(2020, 5, 1, 11, 1), 1, False, True, False),
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    spec = AlternationSpec(
        alternatives=_alt_spec().alternatives,
        measures=(
            Measure("c_seq", "C", "seq", "first"),
            Measure("d_seq", "D", "seq", "first"),
        ),
    )
    [r] = match_pattern(df, spec).collect()
    assert r.c_seq == 1 and r.d_seq is None


def test_streaming_alternation_matches_batch(spark, sf_small, tmp_path):
    """Streaming alternation (round 4): per-key lockstep NfaStates in
    the bucketed state store run the SAME coordination core as batch
    (nfa.py::coordinate_alternation_row) — the streamed replay of the
    events-as-billing corpus must reproduce the batch coordinator
    exactly (classifier included)."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.queries.cep import _MR_ALT_BODY
    from flink_cep_examples_spark.sources.billing import events_as_billing

    billing = events_as_billing(spark, sf_small)
    sentinel = spark.createDataFrame(
        [("zz", "2031-01-01 00:00:00", 50.0, 50.0, 999_999_999)],
        "id string, datetime string, balanceBefore double, "
        "balanceAfter double, seq long",
    ).select(
        "id",
        F.to_timestamp("datetime").alias("event_time"),
        "seq",
        "balanceBefore",
        "balanceAfter",
        "datetime",
    )
    src = str(tmp_path / "billing_alt")
    billing.select(sentinel.columns).unionByName(sentinel).coalesce(
        2
    ).write.parquet(src)

    batch_df = spark.read.parquet(src)
    expected = sorted(
        map(tuple, match_recognize(batch_df, _MR_ALT_BODY).collect())
    )
    assert expected

    schema = batch_df.schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = match_recognize(stream, _MR_ALT_BODY)
    assert out.isStreaming
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("alt_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.table("alt_mem").collect()))
    assert expected == got


def test_alternation_fast_path_matches_coordinator(spark):
    """The SKIP TO NEXT ROW closed form (fast_path.py::
    match_pattern_alternation_fast) must reproduce the lockstep-NFA
    coordinator exactly on seeded random streams — including the
    eager-completion preference (shorter branch wins the start) and
    classifier / match_number measures."""
    import dataclasses
    import random

    from flink_cep_examples_spark.operators.fast_path import (
        fast_alternation_applicable,
        match_pattern_alternation_fast,
    )
    from flink_cep_examples_spark.plans.pattern import SKIP_TO_NEXT

    spec = AlternationSpec(
        alternatives=tuple(
            dataclasses.replace(a, after_match=SKIP_TO_NEXT)
            for a in _alt_spec().alternatives
        ),
        measures=(
            Measure("start_seq", "A", "seq", "first"),
            Measure("cls", "", "", "classifier"),
            Measure("c_seq", "C", "seq", "last"),
            Measure("n_d", "D", "", "count"),
            Measure("mno", "", "", "match_number"),
        ),
    )
    assert fast_alternation_applicable(spec)
    rng = random.Random(7)
    rows = []
    for key in range(15):
        n = rng.randint(5, 40)
        for i in range(n):
            rows.append(
                (
                    f"k{key}",
                    dt.datetime(2020, 5, 1) + dt.timedelta(minutes=i),
                    i,
                    rng.random() < 0.4,
                    rng.random() < 0.35,
                    rng.random() < 0.5,
                )
            )
    df = spark.createDataFrame(rows, _SCHEMA)
    slow = sorted(
        map(tuple, match_pattern(df, spec).collect())
    )
    fast = sorted(
        map(tuple, match_pattern_alternation_fast(df, spec).collect())
    )
    assert slow and slow == fast


def test_alternation_fast_path_ineligible_shapes():
    """PAST LAST ROW (sequential starts) and loop variables fall back
    to the coordinator."""
    from flink_cep_examples_spark.operators.fast_path import (
        fast_alternation_applicable,
    )

    assert not fast_alternation_applicable(_alt_spec())  # PAST_LAST


def test_dsl_alternation_helper(spark):
    """plans.alternation(): the builder-side twin of PATTERN (P1 | P2)
    — same operator, same results as hand-built AlternationSpec."""
    from flink_cep_examples_spark.plans.pattern import (
        SKIP_TO_NEXT,
        alternation,
    )

    spec = alternation(
        Pattern.begin("A", skip=SKIP_TO_NEXT).where("fa").next("C").where("fc"),
        Pattern.begin("A", skip=SKIP_TO_NEXT)
        .where("fa")
        .next("D")
        .where("fd")
        .times(2),
        measures=(
            Measure("start_seq", "A", "seq", "first"),
            Measure("cls", "", "", "classifier"),
        ),
    )
    assert isinstance(spec, AlternationSpec)
    rows = [
        ("k", dt.datetime(2020, 5, 1, 11, 0), 0, True, False, True),
        ("k", dt.datetime(2020, 5, 1, 11, 1), 1, False, False, True),
        ("k", dt.datetime(2020, 5, 1, 11, 2), 2, False, False, True),
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    got = [(r.start_seq, r.cls) for r in match_pattern(df, spec).collect()]
    assert got == [(0, "D")]


def test_group_quantifier_exact_unroll(spark):
    """(D U){2}: exact bounds unroll to ONE linear spec with suffixed
    copies; measures over the base names resolve via the auto-SUBSET."""
    from flink_cep_examples_spark.sql.match_recognize import (
        parse_match_recognize,
    )

    body = """
      PARTITION BY id ORDER BY event_time
      MEASURES FIRST(D.seq) AS s, COUNT(D.*) AS nd, LAST(U.seq) AS e
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN ((D U){2})
      DEFINE D AS fd, U AS fc
    """
    spec = parse_match_recognize(body)
    assert isinstance(spec, PatternSpec)
    assert [v.name for v in spec.variables] == [
        "D__1", "U__1", "D__2", "U__2"
    ]
    assert dict(spec.subsets) == {
        "D": ("D__1", "D__2"), "U": ("U__1", "U__2")
    }
    # d u d u d -> starts 0 (rows 0-3); start 2 fails (row 4 has no u5)
    rows = [
        ("k", dt.datetime(2020, 5, 1, 11, i), i, False, c, d)
        for i, (d, c) in enumerate(
            [(True, False), (False, True), (True, False), (False, True),
             (True, False)]
        )
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    got = [
        (r.s, r.nd, r.e) for r in match_recognize(df, body).collect()
    ]
    assert got == [(0, 2, 3)]


def test_group_quantifier_range_is_greedy(spark):
    """(D U){1,2}: expands to 2 alternatives listed in GREEDY priority
    (2 repetitions first), and — round 5 — pure group expansions run
    under SQL:2016 "leftmost" derivation: the 2-repetition match wins
    start 0 even though the 1-repetition completion arrives two rows
    earlier (the round-4 min-count-preferred deviation, closed). Start
    2 can only fit one repetition before the input ends."""
    from flink_cep_examples_spark.sql.match_recognize import (
        parse_match_recognize,
    )

    body = """
      PARTITION BY id ORDER BY event_time
      MEASURES COUNT(D.*) AS nd
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN ((D U){1,2})
      DEFINE D AS fd, U AS fc
    """
    spec = parse_match_recognize(body)
    assert isinstance(spec, AlternationSpec)
    assert len(spec.alternatives) == 2
    assert spec.derivation == "leftmost"
    assert len(spec.alternatives[0].variables) == 4  # greedy-first order
    rows = [
        ("k", dt.datetime(2020, 5, 1, 11, i), i, False, c, d)
        for i, (d, c) in enumerate(
            [(True, False), (False, True), (True, False), (False, True)]
        )
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    got = sorted(r.nd for r in match_recognize(df, body).collect())
    # start 0: (D U)(D U) — greedy; start 2: (D U) only
    assert got == [1, 2]


def test_group_quantifier_optional_and_rejections():
    from flink_cep_examples_spark.sql.match_recognize import (
        parse_match_recognize,
    )

    spec = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time
        MEASURES A.seq AS s
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN (A (D U)?)
        DEFINE A AS fa, D AS fd, U AS fc
        """
    )
    assert isinstance(spec, AlternationSpec)
    # greedy priority order: the with-group branch is listed first
    assert [len(a.variables) for a in spec.alternatives] == [3, 1]
    # round 5: (D U)+ is no longer rejected — it parses to a true
    # sub-NFA loop group (tests/test_group_loops.py covers semantics)
    plus = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time
        MEASURES A.seq AS s
        ONE ROW PER MATCH
        PATTERN (A (D U)+)
        DEFINE A AS fa, D AS fd, U AS fc
        """
    )
    assert plus.loop_groups == ((1, 2),)


def test_alternation_mixed_within_falls_back_to_coordinator(spark):
    """Branches with DIFFERENT (or partly missing) within deadlines are
    NOT closed-form eligible: the fast path evaluates one bound
    (alternatives[0].within) against every branch's span, while the
    coordinator honors each branch's own deadline — the applicability
    check must route mixed-deadline specs to the coordinator, where
    each branch's deadline actually bites."""
    import dataclasses

    from flink_cep_examples_spark.operators.fast_path import (
        fast_alternation_applicable,
    )
    from flink_cep_examples_spark.plans.pattern import SKIP_TO_NEXT

    base = _alt_spec(after_match=SKIP_TO_NEXT)
    alt1, alt2 = base.alternatives
    spec = AlternationSpec(
        alternatives=(
            dataclasses.replace(alt1, within=dt.timedelta(minutes=5)),
            dataclasses.replace(alt2, within=dt.timedelta(hours=1)),
        ),
        measures=(
            Measure("start_seq", "A", "seq", "first"),
            Measure("cls", "", "", "classifier"),
            Measure("n_d", "D", "", "count"),
        ),
    )
    assert not fast_alternation_applicable(spec)
    # uniform deadlines stay eligible
    uniform = AlternationSpec(
        alternatives=tuple(
            dataclasses.replace(a, within=dt.timedelta(hours=1))
            for a in base.alternatives
        ),
        measures=spec.measures,
    )
    assert fast_alternation_applicable(uniform)
    # coordinator semantics: branch 1 (A C) completes first at +10 min
    # but its OWN 5-minute deadline kills it; branch 2 (A D D)
    # completes at +11 min inside ITS 1-hour deadline and must win.
    # A shared branch-0 deadline (the old fast-path bug) would have
    # killed both and emitted nothing.
    t0 = dt.datetime(2020, 5, 1, 12, 0, 0)
    rows = [
        ("k", t0, 0, True, False, False),  # A
        ("k", t0 + dt.timedelta(minutes=10), 1, False, True, True),  # C & D
        ("k", t0 + dt.timedelta(minutes=11), 2, False, False, True),  # D
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    got = [
        (r.start_seq, r.n_d)
        for r in match_pattern(df, spec).collect()
    ]
    assert got == [(0, 2)]


def test_group_alternation_distributes_choices(spark):
    """Round 5: alternation INSIDE a group — ``(A C | D){2}`` — each
    repetition copy independently picks a sub-branch, so the parser
    distributes the cross product (4 alternatives here) onto the
    top-level alternation machinery. Input ``A C D D`` matches
    ``(A C)(D)`` from seq 0 and ``(D)(D)`` from seq 2 under
    SKIP TO NEXT ROW; measures over the base names span whichever
    copies the matched alternative used (auto-SUBSET unions)."""
    spec = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time, seq
        MEASURES FIRST(A.seq) AS a_first, COUNT(A.*) AS n_a,
                 COUNT(D.*) AS n_d
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN ((A C | D){2})
        DEFINE A AS fa, C AS fc, D AS fd
        """
    )
    assert isinstance(spec, AlternationSpec)
    assert len(spec.alternatives) == 4  # {AC,D} x {AC,D}

    t0 = dt.datetime(2020, 5, 1, 12, 0, 0)
    flags = [
        (True, False, False),   # 0 A
        (False, True, False),   # 1 C
        (False, False, True),   # 2 D
        (False, False, True),   # 3 D
    ]
    rows = [
        ("k", t0 + dt.timedelta(minutes=i), i, fa, fc, fd)
        for i, (fa, fc, fd) in enumerate(flags)
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    got = {
        (r.a_first, r.n_a, r.n_d)
        for r in match_pattern(df, spec).collect()
    }
    # (A C)(D) from 0: one A copy, one D copy; (D)(D) from 2: no A.
    assert got == {(None, 0, 2), (0, 1, 1)}


def test_unquantified_group_is_grouping_parens(spark):
    """``(A | D) C`` — an unquantified group is SQL:2016 grouping,
    i.e. ``{1}``: one alternative per sub-branch."""
    spec = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time, seq
        MEASURES LAST(C.seq) AS c_seq, CLASSIFIER() AS cls
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN ((A | D) C)
        DEFINE A AS fa, C AS fc, D AS fd
        """
    )
    assert isinstance(spec, AlternationSpec)
    assert len(spec.alternatives) == 2
    t0 = dt.datetime(2020, 5, 1, 12, 0, 0)
    flags = [
        (True, False, False),   # 0 A
        (False, True, False),   # 1 C  -> (A) C
        (False, False, True),   # 2 D
        (False, True, False),   # 3 C  -> (D) C
    ]
    rows = [
        ("k", t0 + dt.timedelta(minutes=i), i, fa, fc, fd)
        for i, (fa, fc, fd) in enumerate(flags)
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    got = sorted(
        (r.c_seq, r.cls)
        for r in match_pattern(df, spec).collect()
    )
    assert got == [(1, "C"), (3, "C")]


def test_group_alternation_unbounded_parses_to_loop_branches():
    """Round 8: ``(A C | D)+`` compiles to PatternSpec.loop_branches
    (per-iteration branch choice, NFA tier) instead of the round-7
    loud reject; ``(A C | D){n,}`` keeps a named raise (bound it or
    use +/*). Differentials: tests/test_group_alt_loop.py."""
    spec = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time
        MEASURES A.seq AS s
        ONE ROW PER MATCH
        PATTERN ((A C | D)+)
        DEFINE A AS fa, C AS fc, D AS fd
        """
    )
    assert spec.loop_groups == ((0, 2),)
    assert spec.loop_branches == ((0, 1), (2, 2))
    with pytest.raises(NotImplementedError, match="ranged group"):
        parse_match_recognize(
            """
            PARTITION BY id ORDER BY event_time
            MEASURES A.seq AS s
            ONE ROW PER MATCH
            PATTERN ((A C | D){2,})
            DEFINE A AS fa, C AS fc, D AS fd
            """
        )


def test_group_alternation_cap():
    """Cross-product expansion past 16 alternatives is rejected with
    the cap named, not silently truncated."""
    with pytest.raises(NotImplementedError, match="cap 16"):
        parse_match_recognize(
            """
            PARTITION BY id ORDER BY event_time
            MEASURES A.seq AS s
            ONE ROW PER MATCH
            PATTERN ((A | C | D){2,3})
            DEFINE A AS fa, C AS fc, D AS fd
            """
        )


def test_subset_with_alternation(spark):
    """Round 5: user SUBSET clauses compose with alternation — the
    union resolves through the same span path as the auto-generated
    group unions. U = (C, D) spans whichever variable the matched
    alternative used; a union the matched alternative lacks entirely
    yields NULL/0 measures."""
    body = """
        PARTITION BY id ORDER BY event_time, seq
        MEASURES FIRST(A.seq) AS a_seq, LAST(U.seq) AS u_last,
                 COUNT(U.*) AS u_n, CLASSIFIER() AS cls
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN (A C | A D{2})
        SUBSET U = (C, D)
        DEFINE A AS fa, C AS fc, D AS fd
    """
    spec = parse_match_recognize(body)
    assert isinstance(spec, AlternationSpec)
    assert ("U", ("C", "D")) in spec.subsets

    t0 = dt.datetime(2020, 5, 1, 12, 0, 0)
    rows = [
        ("k", t0 + dt.timedelta(minutes=i), i, fa, fc, fd)
        for i, (fa, fc, fd) in enumerate(
            [
                (True, False, False),   # A
                (False, True, False),   # C  -> branch 1 from seq 0
                (True, False, False),   # A
                (False, False, True),   # D
                (False, False, True),   # D  -> branch 2 from seq 2
            ]
        )
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    from flink_cep_examples_spark.sql.match_recognize import match_recognize

    got = sorted(
        (r.a_seq, r.u_last, r.u_n) for r in match_recognize(df, body).collect()
    )
    assert got == [(0, 1, 1), (2, 4, 2)]


def test_streaming_alternation_aggregates_match_batch(spark, sf_small, tmp_path):
    """Aggregate MEASURES on streaming ALTERNATION (round 11): every
    alternative's NFA folds (sum, n, min, max) into its spans
    (Nfa.enable_payload_fold) and emission merges the component spans'
    accumulators under the parser's group-copy SUBSET unions — must
    reproduce the batch coordinator exactly, including NULL aggregates
    for the branch that did not match."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.sources.billing import events_as_billing

    body = """
      PARTITION BY id
      ORDER BY event_time
      MEASURES
        A.datetime AS alarmTriggerDatetime,
        CLASSIFIER() AS outcome,
        SUM(B.balanceAfter) AS sum_b,
        AVG(B.balanceAfter) AS avg_b,
        MIN(B.balanceAfter) AS min_b,
        MAX(B.balanceAfter) AS max_b,
        COUNT(B.balanceAfter) AS nb_vals,
        SUM(C.balanceAfter) AS sum_c
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (A C | A B{2})
      DEFINE
        A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
        B AS B.balanceBefore >= B.balanceAfter,
        C AS C.balanceBefore < C.balanceAfter
    """
    billing = events_as_billing(spark, sf_small)
    sentinel = spark.createDataFrame(
        [("zz", "2031-01-01 00:00:00", 50.0, 50.0, 999_999_999)],
        "id string, datetime string, balanceBefore double, "
        "balanceAfter double, seq long",
    ).select(
        "id",
        F.to_timestamp("datetime").alias("event_time"),
        "seq",
        "balanceBefore",
        "balanceAfter",
        "datetime",
    )
    src = str(tmp_path / "billing_alt_agg")
    billing.select(sentinel.columns).unionByName(sentinel).coalesce(
        2
    ).write.parquet(src)

    def norm(r):
        return tuple(
            round(v, 6) if isinstance(v, float) else v for v in r
        )

    batch_df = spark.read.parquet(src)
    expected = sorted(
        norm(tuple(r)) for r in match_recognize(batch_df, body).collect()
    )
    assert expected
    # both branches must appear, and the unmatched branch's aggregate
    # must be NULL on the other branch's rows
    outcomes = {r[2] for r in expected}  # (id, alarm_dt, outcome, ...)
    assert outcomes == {"B", "C"}

    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    out = match_recognize(stream, body)
    assert out.isStreaming
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("alt_agg_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        norm(tuple(r)) for r in spark.table("alt_agg_mem").collect()
    )
    assert expected == got


def test_streaming_alternation_all_rows_matches_batch(spark, sf_small, tmp_path):
    """ALL ROWS PER MATCH on streaming ALTERNATION (round 11): the
    captured-row fold expands each completed match; eligible under
    SKIP PAST LAST + eager derivation, where streaming completion
    order equals batch's (start, end) match_seq numbering (matches
    cannot overlap and nothing is held)."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.sources.billing import events_as_billing

    body = """
      PARTITION BY id
      ORDER BY event_time
      MEASURES CLASSIFIER() AS outcome, SUM(B.balanceAfter) AS sum_b,
               COUNT(B.*) AS n_b
      ALL ROWS PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A C | A B{2})
      DEFINE
        A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
        B AS B.balanceBefore >= B.balanceAfter,
        C AS C.balanceBefore < C.balanceAfter
    """
    billing = events_as_billing(spark, sf_small)
    sentinel = spark.createDataFrame(
        [("zz", "2031-01-01 00:00:00", 50.0, 50.0, 999_999_999)],
        "id string, datetime string, balanceBefore double, "
        "balanceAfter double, seq long",
    ).select(
        "id",
        F.to_timestamp("datetime").alias("event_time"),
        "seq",
        "balanceBefore",
        "balanceAfter",
        "datetime",
    )
    src = str(tmp_path / "billing_alt_allrows")
    billing.select(sentinel.columns).unionByName(sentinel).coalesce(
        2
    ).write.parquet(src)

    def norm(r):
        return tuple(
            round(v, 6) if isinstance(v, float) else v for v in r
        )

    batch_df = spark.read.parquet(src)
    batch = sorted(
        norm(tuple(r)) for r in match_recognize(batch_df, body).collect()
    )
    assert batch

    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    out = match_recognize(stream, body)
    assert out.isStreaming
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("alt_allrows_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        norm(tuple(r)) for r in spark.table("alt_allrows_mem").collect()
    )
    assert got == batch


def test_streaming_alternation_all_rows_running_matches_batch(
    spark, sf_small, tmp_path
):
    """RUNNING measures under streaming alternation ALL ROWS (round
    12, ADVICE r11 high): the per-row clipped-prefix walk must agree
    with batch — previously the alternation emit silently repeated
    the FINAL value on every row (constant-per-match RUNNING SUM/
    COUNT/CLASSIFIER), while the single-pattern streaming tier and
    the batch tier both computed the true running series."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.sources.billing import events_as_billing

    body = """
      PARTITION BY id
      ORDER BY event_time
      MEASURES RUNNING SUM(B.balanceAfter) AS run_b,
               RUNNING COUNT(B.*) AS b_so_far,
               RUNNING CLASSIFIER() AS cur,
               FINAL COUNT(B.*) AS n_b
      ALL ROWS PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A C | A B{2})
      DEFINE
        A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
        B AS B.balanceBefore >= B.balanceAfter,
        C AS C.balanceBefore < C.balanceAfter
    """
    billing = events_as_billing(spark, sf_small)
    sentinel = spark.createDataFrame(
        [("zz", "2031-01-01 00:00:00", 50.0, 50.0, 999_999_999)],
        "id string, datetime string, balanceBefore double, "
        "balanceAfter double, seq long",
    ).select(
        "id",
        F.to_timestamp("datetime").alias("event_time"),
        "seq",
        "balanceBefore",
        "balanceAfter",
        "datetime",
    )
    src = str(tmp_path / "billing_alt_allrows_run")
    billing.select(sentinel.columns).unionByName(sentinel).coalesce(
        2
    ).write.parquet(src)

    def norm(r):
        return tuple(
            round(v, 6) if isinstance(v, float) else v for v in r
        )

    batch_df = spark.read.parquet(src)
    batch = sorted(
        norm(tuple(r)) for r in match_recognize(batch_df, body).collect()
    )
    assert batch
    # the running series must actually vary within B{2} matches —
    # otherwise this test couldn't discriminate FINAL-for-RUNNING
    by_cols = {f.name: i for i, f in enumerate(match_recognize(
        batch_df, body).schema.fields)}
    varying = [
        r for r in batch
        if r[by_cols["n_b"]] == 2 and r[by_cols["b_so_far"]] == 1
    ]
    assert varying, "need at least one mid-match RUNNING row"

    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    out = match_recognize(stream, body)
    assert out.isStreaming
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("alt_allrows_run_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        norm(tuple(r))
        for r in spark.table("alt_allrows_run_mem").collect()
    )
    assert got == batch


def test_streaming_alternation_all_rows_overlapping_matches_batch(
    spark, tmp_path
):
    """Round 13: ALL ROWS alternation under SKIP TO NEXT ROW — the
    former loud reject — streams via the (start, end, alternative)
    reorder hold; multi-micro-batch replay must equal batch's
    renumbered output exactly."""
    import datetime as dtm
    import random as _r
    import time as _t

    rng = _r.Random(5)
    rows = []
    for key in range(6):
        for i in range(40):
            rows.append(
                (
                    f"k{key}",
                    dtm.datetime(2024, 1, 1) + dtm.timedelta(minutes=i),
                    i,
                    20.0 if rng.random() < 0.5 else 5.0,
                    20.0 if rng.random() < 0.5 else 2.0,
                )
            )
    rows.append(("k0", dtm.datetime(2024, 1, 2), 10**6, 50.0, 50.0))
    df = spark.createDataFrame(
        rows,
        "id string, event_time timestamp, seq long, "
        "balanceBefore double, balanceAfter double",
    )
    body = """
      PARTITION BY id
      ORDER BY event_time, seq
      MEASURES CLASSIFIER() AS outcome, MATCH_NUMBER() AS mn
      ALL ROWS PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (A C | A B{2})
      DEFINE
        A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
        B AS B.balanceBefore >= B.balanceAfter,
        C AS C.balanceBefore < C.balanceAfter
    """
    batch = sorted(map(tuple, match_recognize(df, body).collect()))
    assert batch
    import pyspark.sql.functions as F

    src = str(tmp_path / "alt_overlap")
    base = dtm.datetime(2024, 1, 1)
    for lo, hi in ((0, 15), (15, 30), (30, 10**7)):
        df.filter(
            (F.col("event_time") >= base + dtm.timedelta(minutes=lo))
            & (F.col("event_time") < base + dtm.timedelta(minutes=hi))
        ).coalesce(1).write.mode("append").parquet(src)
        _t.sleep(1.1)
    stream = spark.readStream.schema(df.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = match_recognize(stream, body)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("alt_overlap_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.table("alt_overlap_mem").collect()))
    assert got == batch


def test_streaming_alternation_eager_no_skip_numbering(spark, tmp_path):
    """Round-13 silent-wrong fix: eager NO_SKIP alternation with
    alternatives of DIFFERENT lengths — (A C | A D{3}) — lets start s
    complete via the 4-row branch AFTER start s+1 completed via the
    2-row one, so the old completion-order counter mis-numbered both
    (and batch also emits BOTH branches from one start, so the hold
    must key (start, end, alternative), not start alone). Crafted
    corpus + seeded random differential, batch equality exact."""
    import datetime as dtm
    import random as _r

    from flink_cep_examples_spark.operators.cep_batch import match_pattern
    from flink_cep_examples_spark.plans.pattern import (
        Measure,
        NO_SKIP,
        PatternSpec,
        PatternVar,
        TIMES,
    )
    from flink_cep_examples_spark.plans.pattern import (
        AlternationSpec as ASpec,
    )
    from flink_cep_examples_spark.streaming.cep_stream import (
        match_pattern_stream,
    )

    mk = lambda *vs: PatternSpec(
        variables=vs, key_cols=("id",), order_col="event_time",
        after_match=NO_SKIP,
    )
    spec = ASpec(
        alternatives=(
            mk(PatternVar("A", "fa"), PatternVar("C", "fc")),
            mk(
                PatternVar("A", "fa"),
                PatternVar("D", "fd", quantifier=TIMES, times=(3, 3)),
            ),
        ),
        measures=(
            Measure("start_seq", "A", "seq", "first"),
            Measure("cls", "", "", "classifier"),
            Measure("mno", "", "", "match_number"),
        ),
    )
    schema = (
        "id string, event_time timestamp, seq long, "
        "fa boolean, fc boolean, fd boolean"
    )

    def run_case(rows, name):
        df = spark.createDataFrame(rows, schema)
        batch = sorted(
            map(tuple, match_pattern(df, spec).collect())
        )
        src = tmp_path / name
        df.coalesce(1).write.parquet(str(src))
        stream = spark.readStream.schema(df.schema).parquet(str(src))
        out = match_pattern_stream(
            stream, spec, watermark_delay="0 seconds"
        )
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            map(tuple, spark.sql(f"SELECT * FROM {name}").collect())
        )
        assert got == batch, (name, got[:4], batch[:4])
        return len(batch)

    # crafted out-of-order completion: fa@0,1; fd@1,2,3; fc@2
    flags = [
        (True, False, False),
        (True, False, True),
        (False, True, True),
        (False, False, True),
        (False, False, False),
    ]
    rows = [
        ("k", dtm.datetime(2020, 5, 1) + dtm.timedelta(minutes=i), i, a, c, d)
        for i, (a, c, d) in enumerate(flags)
    ]
    assert run_case(rows, "eager_crafted") == 2

    rng = _r.Random(11)
    rows = []
    for key in range(8):
        for i in range(40):
            rows.append(
                (
                    f"k{key}",
                    dtm.datetime(2020, 5, 1) + dtm.timedelta(minutes=i),
                    i,
                    rng.random() < 0.5,
                    rng.random() < 0.3,
                    rng.random() < 0.65,
                )
            )
    assert run_case(rows, "eager_random") >= 50


def test_streaming_alternation_subset_last_over_loop_branches(
    spark, tmp_path
):
    """LAST over a SUBSET of a multi-branch loop group's variables
    inside an alternation: the union's LAST row is the component span
    with the latest LAST row (A's seq 2), not the span that started
    last (B's seq 1). Stream must equal batch."""
    from flink_cep_examples_spark.streaming.cep_stream import (
        match_pattern_stream,
    )

    spec = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time, seq
        MEASURES LAST(U.seq) AS lu, CLASSIFIER() AS cls
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN ((A | B)+ C | D E)
        SUBSET U = (A, B)
        DEFINE A AS fa, B AS fb, C AS fc, D AS fd, E AS fe
        """
    )
    assert isinstance(spec, AlternationSpec)
    t0 = dt.datetime(2020, 5, 1, 12, 0, 0)
    rows = [
        ("k", t0 + dt.timedelta(minutes=i), i, *(v == x for x in "ABCDE"))
        for i, v in enumerate("ABAC")
    ]
    df = spark.createDataFrame(
        rows,
        "id string, event_time timestamp, seq long, fa boolean, "
        "fb boolean, fc boolean, fd boolean, fe boolean",
    )
    batch = sorted(map(tuple, match_pattern(df, spec).collect()))
    assert batch == [("k", 2, "C")]
    src = tmp_path / "src"
    df.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    q = (
        match_pattern_stream(stream, spec, watermark_delay="0 seconds")
        .writeStream.format("memory")
        .queryName("alt_subset_last")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.table("alt_subset_last").collect()))
    assert got == batch


def test_streaming_alternation_reorder_hold_survives_restart(
    spark, tmp_path
):
    """The reorder hold is STATE: stop the query while start s+1's
    completed match is buffered behind the still-undecided start s
    (its longer branch needs a row from the next file), restart from
    the checkpoint, feed the rest — the restored hold must release
    both matches in batch's (start, end, alternative) order."""
    import datetime as dtm

    from flink_cep_examples_spark.operators.cep_batch import match_pattern
    from flink_cep_examples_spark.plans.pattern import (
        Measure,
        NO_SKIP,
        PatternSpec,
        PatternVar,
        TIMES,
    )
    from flink_cep_examples_spark.plans.pattern import (
        AlternationSpec as ASpec,
    )
    from flink_cep_examples_spark.streaming.cep_stream import (
        match_pattern_stream,
    )

    mk = lambda *vs: PatternSpec(
        variables=vs, key_cols=("id",), order_col="event_time",
        after_match=NO_SKIP,
    )
    spec = ASpec(
        alternatives=(
            mk(PatternVar("A", "fa"), PatternVar("C", "fc")),
            mk(
                PatternVar("A", "fa"),
                PatternVar("D", "fd", quantifier=TIMES, times=(3, 3)),
            ),
        ),
        measures=(
            Measure("start_seq", "A", "seq", "first"),
            Measure("cls", "", "", "classifier"),
            Measure("mno", "", "", "match_number"),
        ),
    )
    flags = [  # (fa, fc, fd): s0 → A D D D (needs row 3), s1 → A C @ 2
        (True, False, False),
        (True, False, True),
        (False, True, True),
        (False, False, True),
        (False, False, False),
    ]
    rows = [
        ("k", dtm.datetime(2020, 5, 1) + dtm.timedelta(minutes=i), i, a, c, d)
        for i, (a, c, d) in enumerate(flags)
    ]
    schema = (
        "id string, event_time timestamp, seq long, "
        "fa boolean, fc boolean, fd boolean"
    )
    df = spark.createDataFrame(rows, schema)
    batch = sorted(map(tuple, match_pattern(df, spec).collect()))
    assert [b[3] for b in batch] == [1, 2]  # two matches, s0 numbered 1

    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    chk = str(tmp_path / "chk")
    sink = str(tmp_path / "out")
    df.filter(F.col("seq") <= 2).coalesce(1).write.parquet(str(src / "p1"))

    def run_once():
        stream = spark.readStream.schema(df.schema).option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        out = match_pattern_stream(
            stream, spec, watermark_delay="0 seconds"
        )
        q = (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()  # s1's match completes but must stay HELD behind s0
    mid = sorted(map(tuple, spark.read.parquet(sink).collect()))
    assert mid == [], mid  # nothing may emit before s0 decides
    df.filter(F.col("seq") > 2).coalesce(1).write.parquet(str(src / "p2"))
    run_once()  # restored hold releases s0 then s1
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))
    assert got == batch


@pytest.mark.parametrize(
    "after_name,derivation",
    [
        ("no_skip", "eager"),
        ("skip_to_next", "eager"),
        ("no_skip", "leftmost"),
        ("skip_to_next", "leftmost"),
    ],
)
def test_streaming_alternation_overlap_combo_differential(
    spark, tmp_path, after_name, derivation
):
    """Round-13 combo battery: every overlapping-skip × derivation
    pair streams MATCH_NUMBER through the reorder hold and must equal
    batch on a seeded random corpus (the probe that exposed the eager
    NO_SKIP mis-numbering, kept as a permanent differential)."""
    import datetime as dtm
    import random as _r

    from flink_cep_examples_spark.plans.pattern import (
        Measure,
        NO_SKIP,
        PatternSpec,
        PatternVar,
        SKIP_TO_NEXT,
        TIMES,
    )
    from flink_cep_examples_spark.plans.pattern import (
        AlternationSpec as ASpec,
    )
    from flink_cep_examples_spark.streaming.cep_stream import (
        match_pattern_stream,
    )

    after = NO_SKIP if after_name == "no_skip" else SKIP_TO_NEXT
    mk = lambda *vs: PatternSpec(
        variables=vs, key_cols=("id",), order_col="event_time",
        after_match=after,
    )
    spec = ASpec(
        alternatives=(
            mk(PatternVar("A", "fa"), PatternVar("C", "fc")),
            mk(
                PatternVar("A", "fa"),
                PatternVar("D", "fd", quantifier=TIMES, times=(3, 3)),
            ),
        ),
        measures=(
            Measure("start_seq", "A", "seq", "first"),
            Measure("cls", "", "", "classifier"),
            Measure("mno", "", "", "match_number"),
        ),
        derivation=derivation,
    )
    rng = _r.Random(11)
    rows = []
    for key in range(6):
        for i in range(35):
            rows.append(
                (
                    f"k{key}",
                    dtm.datetime(2020, 5, 1) + dtm.timedelta(minutes=i),
                    i,
                    rng.random() < 0.5,
                    rng.random() < 0.3,
                    rng.random() < 0.65,
                )
            )
        # inert flush row: kills every live run at a CONSUMED row so
        # the stream's reorder hold releases exactly what batch
        # resolves at end-of-input (an open-ended stream would
        # rightly keep a trailing start undecided)
        rows.append(
            (
                f"k{key}",
                dtm.datetime(2020, 5, 1) + dtm.timedelta(minutes=40),
                40,
                False,
                False,
                False,
            )
        )
    df = spark.createDataFrame(rows, _SCHEMA)
    batch = sorted(
        map(tuple, match_pattern(df, spec).collect())
    )
    assert batch
    name = f"combo_{after_name}_{derivation}"
    src = tmp_path / name
    df.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    out = match_pattern_stream(
        stream, spec, watermark_delay="0 seconds"
    )
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql(f"SELECT * FROM {name}").collect()))
    assert got == batch
