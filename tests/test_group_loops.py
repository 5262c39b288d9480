"""Unbounded group quantifiers ``(X Y)+`` / ``*`` / ``{n,}`` (round 5):
true sub-NFA loop states (PatternSpec.loop_groups → operators/nfa.py
loop-back edges), parser compilation, eager-emission semantics against
a brute-force reference, and the spec-level guard rails.

Reference semantics source: SQL:2016 row-pattern grouped quantifiers
(the reference repo itself never groups — this is north-star surface);
emission is the engine's documented EAGER discipline: a loop iterates
only while the remainder of the pattern has not yet completed, and
the earliest-started run wins under the one-match skip strategies.
"""

from __future__ import annotations

import dataclasses
import datetime as dt

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from flink_cep_examples_spark.operators import nfa as N
from flink_cep_examples_spark.plans.pattern import (
    Measure,
    PatternSpec,
    PatternVar,
    SKIP_PAST_LAST_EVENT,
)
from flink_cep_examples_spark.sql.match_recognize import (
    _expand_group_quantifiers,
    match_recognize,
    parse_match_recognize,
)

_XYZ = PatternSpec(
    variables=(
        PatternVar("X", "px"),
        PatternVar("Y", "py"),
        PatternVar("Z", "pz"),
    ),
    loop_groups=((0, 1),),
)


def _run_xyz(ms: list[int]) -> list[tuple[int, int, int]]:
    """Drive the NFA over class sequence ``ms`` (1=X, 2=Y, 0=Z);
    returns (x_first, z_row, n_pairs) per match."""
    eng = N.Nfa(_XYZ)
    stt = N.NfaState()
    out = []
    for i, m in enumerate(ms):
        pred = [m == 1, m == 2, m == 0]
        matches, _ = eng.step(stt, i * 1000, pred, i)
        for d in matches:
            out.append((d["X"][0], d["Z"][1], d["X"][2]))
    return out


def _brute_xyz(ms: list[int]) -> list[tuple[int, int, int]]:
    """Brute force ``(X Y)+ Z`` under SKIP PAST LAST ROW: at each Z
    row, the earliest start s past the cursor whose rows s..t-1
    alternate 1,2 (starting with 1, hence even length >= 2) wins; a
    match moves the cursor past its last row."""
    out = []
    cursor = 0
    for t, m in enumerate(ms):
        if m != 0:
            continue
        best = None
        for s in range(cursor, t - 1):
            if ms[s] != 1 or (t - s) % 2 != 0:
                continue
            if all(ms[s + j] == 1 + j % 2 for j in range(t - s)):
                best = s
                break
        if best is not None:
            out.append((best, t, (t - best) // 2))
            cursor = t + 1
    return out


def test_loop_nfa_hand_cases():
    assert _run_xyz([1, 2, 1, 2, 0]) == [(0, 4, 2)]
    assert _run_xyz([2, 1, 2, 0]) == [(1, 3, 1)]
    assert _run_xyz([1, 2, 0, 1, 2, 1, 2, 0]) == [(0, 2, 1), (3, 7, 2)]
    assert _run_xyz([1, 1, 2, 0]) == [(1, 3, 1)]  # phase break restarts
    assert _run_xyz([1, 2, 1, 0]) == []  # Z after an incomplete pair
    assert _run_xyz([0]) == []
    assert _run_xyz([1, 2, 1, 2, 1, 2, 0]) == [(0, 6, 3)]


@settings(max_examples=300, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2), max_size=40))
def test_loop_nfa_matches_brute_force(ms):
    assert _run_xyz(ms) == _brute_xyz(ms)


def test_parser_plus_builds_loop_group():
    spec = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time
        MEASURES FIRST(X.seq) AS s, COUNT(X.*) AS k
        ONE ROW PER MATCH
        PATTERN ((X Y)+ Z)
        DEFINE X AS fa, Y AS fd, Z AS fc
        """
    )
    assert isinstance(spec, PatternSpec)
    assert [v.name for v in spec.variables] == ["X", "Y", "Z"]
    assert spec.loop_groups == ((0, 1),)


def test_parser_star_becomes_alternation():
    spec = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time
        MEASURES A.seq AS s
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN (A (X Y)* Z)
        DEFINE A AS fa, X AS fd, Y AS fc, Z AS fe
        """
    )
    names = [[v.name for v in a.variables] for a in spec.alternatives]
    groups = [a.loop_groups for a in spec.alternatives]
    # round 7: GREEDY star lists the loop branch FIRST (branch order is
    # the SQL:2016 derivation preference under leftmost coordination)
    assert names == [["A", "X", "Y", "Z"], ["A", "Z"]]
    assert groups == [((1, 2),), ()]
    assert spec.derivation == "leftmost"


def test_parser_n_or_more_unrolls_then_loops():
    out = _expand_group_quantifiers("A (B C){3,} D")
    assert out == ["A  B__1 C__1 B__2 C__2 {g+ B__3 C__3 +g}  D"]
    spec = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time
        MEASURES COUNT(B.*) AS nb
        ONE ROW PER MATCH
        PATTERN (A (B C){2,} D)
        DEFINE A AS fa, B AS fd, C AS fc, D AS fe
        """
    )
    assert [v.name for v in spec.variables] == [
        "A", "B__1", "C__1", "B__2", "C__2", "D",
    ]
    assert spec.loop_groups == ((3, 4),)
    # the auto-SUBSET union makes COUNT(B.*) span all copies
    assert ("B", ("B__1", "B__2")) in spec.subsets


def test_parser_single_var_group_is_var_quantifier():
    assert _expand_group_quantifiers("A (B)+ C") == ["A  B+  C"]


def test_parser_rejects_quantified_var_in_unbounded_group():
    with pytest.raises(NotImplementedError, match="quantified variable"):
        _expand_group_quantifiers("A (B{2} C)+ D")


def test_validate_allows_aggregates_over_loop_vars():
    """Round 8 (was a loud reject): aggregates over single-body
    loop-group vars validate — the evaluator slices the stride-L
    actual rows (tests/test_loop_all_rows.py pins the values)."""
    PatternSpec(
        variables=(
            PatternVar("X", "px"),
            PatternVar("Y", "py"),
            PatternVar("Z", "pz"),
        ),
        loop_groups=((0, 1),),
        measures=(Measure("s", "X", "v", "sum"),),
    ).validate()


def test_validate_allows_all_rows_with_loop_groups():
    """Round 7: ALL ROWS over loop groups is supported (stride-L
    positional reconstruction); round 8 extends the same stride
    reconstruction to RUNNING measures, so those validate too."""
    spec = PatternSpec(
        variables=(
            PatternVar("X", "px"),
            PatternVar("Y", "py"),
            PatternVar("Z", "pz"),
        ),
        loop_groups=((0, 1),),
        rows_per_match="all",
    )
    spec.validate()  # no raise
    from flink_cep_examples_spark.plans.pattern import Measure

    running = dataclasses.replace(
        spec,
        measures=(
            Measure(name="c", var="X", src="__count__", fn="count",
                    running=True),
        ),
    )
    running.validate()  # round 8: no raise (stride-aware series)


def test_validate_rejects_optional_group_end():
    spec = PatternSpec(
        variables=(
            PatternVar("X", "px"),
            PatternVar("Y", "py", quantifier="optional"),
            PatternVar("Z", "pz"),
        ),
        loop_groups=((0, 1),),
    )
    with pytest.raises(ValueError, match="non-optional"):
        spec.validate()


def test_loop_group_not_fast_path_eligible():
    from flink_cep_examples_spark.operators.fast_path import (
        _fixed_counts,
        fast_positional_applicable,
    )

    assert _fixed_counts(_XYZ) is None
    assert not fast_positional_applicable(_XYZ)


_SCHEMA = "id string, event_time timestamp, seq long, m long"


def _class_df(spark, ms, key="k"):
    t0 = dt.datetime(2020, 5, 1, 12, 0, 0)
    rows = [
        (key, t0 + dt.timedelta(minutes=i), i, m) for i, m in enumerate(ms)
    ]
    return spark.createDataFrame(rows, _SCHEMA)


def test_sql_group_plus_end_to_end(spark):
    df = _class_df(spark, [1, 2, 1, 2, 0, 1, 2, 0, 2, 0])
    out = match_recognize(
        df,
        """
        PARTITION BY id ORDER BY event_time, seq
        MEASURES FIRST(X.seq) AS s, LAST(Z.seq) AS e, COUNT(X.*) AS k
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN ((X Y)+ Z)
        DEFINE X AS m = 1, Y AS m = 2, Z AS m = 0
        """,
    )
    got = sorted((r.s, r.e, r.k) for r in out.collect())
    assert got == [(0, 4, 2), (5, 7, 1)]


def test_sql_group_star_end_to_end(spark):
    """(X Y)* via the alternation machinery: the empty-group branch
    completes A Z directly; eager emission prefers the earliest
    completion (A Z at the first Z when no pair precedes it)."""
    df = _class_df(spark, [3, 0, 3, 1, 2, 0])
    out = match_recognize(
        df,
        """
        PARTITION BY id ORDER BY event_time, seq
        MEASURES FIRST(A.seq) AS a, LAST(Z.seq) AS e, COUNT(X.*) AS k
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN (A (X Y)* Z)
        DEFINE A AS m = 3, X AS m = 1, Y AS m = 2, Z AS m = 0
        """,
    )
    got = sorted((r.a, r.e, r.k) for r in out.collect())
    # A@0 completes at Z@1 with zero pairs; A@2 loops one pair to Z@5
    assert got == [(0, 1, 0), (2, 5, 1)]


def test_streaming_group_plus_matches_batch(spark, tmp_path):
    """The loop-group NFA drives the streaming tier unchanged: replay
    the class stream through match_pattern_stream and compare with the
    batch result."""
    import pandas as pd

    from flink_cep_examples_spark.streaming.cep_stream import (
        match_pattern_stream,
    )

    ms = [1, 2, 1, 2, 0, 1, 1, 2, 0, 2, 1, 2, 1, 2, 1, 2, 0]
    # trailing far-future sentinel (matches nothing) pushes the
    # watermark past every real row so the streamed replay emits the
    # full batch match set before the availableNow query stops
    df = _class_df(spark, ms + [9] * 3)
    body = """
        PARTITION BY id ORDER BY event_time, seq
        MEASURES FIRST(X.seq) AS s, LAST(Z.seq) AS e, COUNT(X.*) AS k
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN ((X Y)+ Z)
        DEFINE X AS m = 1, Y AS m = 2, Z AS m = 0
    """
    batch = sorted((r.s, r.e, r.k) for r in match_recognize(df, body).collect())

    spec = parse_match_recognize(body)
    src_dir = tmp_path / "src"
    df.coalesce(1).write.parquet(str(src_dir))
    stream = spark.readStream.schema(df.schema).parquet(str(src_dir))
    out = match_pattern_stream(stream, spec, watermark_delay="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("grp_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.s, r.e, r.k)
        for r in spark.sql("SELECT * FROM grp_stream").collect()
    )
    assert got == batch and len(batch) >= 3


def test_dsl_group_builder_matches_sql(spark):
    """Pattern.begin_group()/end_group_one_or_more(): the DSL twin of
    PATTERN ((X Y)+ Z) — same spec shape, same matches."""
    from flink_cep_examples_spark.operators.cep_batch import match_pattern
    from flink_cep_examples_spark.plans.pattern import (
        Pattern,
        Measure,
        SKIP_PAST_LAST_EVENT,
    )

    spec = (
        Pattern.begin("X", skip=SKIP_PAST_LAST_EVENT)
        .where("m = 1")
        .next("Y")
        .where("m = 2")
        .next("Z")
        .where("m = 0")
        .build(
            key_cols=("id",),
            order_col="event_time",
            measures=(
                Measure("s", "X", "seq", "first"),
                Measure("e", "Z", "seq", "last"),
                Measure("k", "X", "", "count"),
            ),
        )
    )
    # rebuild with the group wrapped around X Y
    p = Pattern.begin("X", skip=SKIP_PAST_LAST_EVENT)
    p._vars = []  # begin() seeded X; rebuild the body inside the group
    p.begin_group()
    p._vars.append(spec.variables[0])
    p._vars.append(spec.variables[1])
    p.end_group_one_or_more()
    p._vars.append(spec.variables[2])
    gspec = p.build(
        key_cols=("id",),
        order_col="event_time",
        measures=spec.measures,
    )
    assert gspec.loop_groups == ((0, 1),)
    df = _class_df(spark, [1, 2, 1, 2, 0, 1, 2, 0])
    got = sorted((r.s, r.e, r.k) for r in match_pattern(df, gspec).drop("tag").collect())
    assert got == [(0, 4, 2), (5, 7, 1)]


def test_dsl_group_builder_guards():
    from flink_cep_examples_spark.plans.pattern import Pattern

    p = Pattern.begin("A")
    with pytest.raises(ValueError, match="without begin_group"):
        p.end_group_one_or_more()
    p.begin_group()
    with pytest.raises(ValueError, match="cannot nest"):
        p.begin_group()
    p.next("B")
    with pytest.raises(ValueError, match=">= 2 variables"):
        p.end_group_one_or_more()
    p.next("C")
    p.end_group_one_or_more()
    q = Pattern.begin("A").begin_group().next("B").next("C")
    with pytest.raises(ValueError, match="unclosed"):
        q.build()


def test_bounded_group_exclusion_all_rows(spark):
    """Round 5: {- -} exclusion inside a BOUNDED group — the unroll
    carries the markers per copy, so under ALL ROWS PER MATCH every
    copy's excluded variable is omitted from the output rows while the
    match itself is unchanged."""
    df = _class_df(spark, [3, 1, 2, 1, 2])
    out = match_recognize(
        df,
        """
        PARTITION BY id ORDER BY event_time, seq
        MEASURES FIRST(A.seq) AS a_seq
        ALL ROWS PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (A ({- X -} Y){2})
        DEFINE A AS m = 3, X AS m = 1, Y AS m = 2
        """,
    )
    rows = sorted((r.seq, r.classifier) for r in out.collect())
    assert rows == [(0, "A"), (2, "Y__1"), (4, "Y__2")]


def test_loop_group_within_deadline_prunes():
    """within + loop group: the deadline prunes a run BEFORE the row
    that would extend or complete it (strict <, the engine's fixture-
    pinned convention) — a chain whose Z lands at exactly start+within
    must NOT match, one landing just inside must."""
    import dataclasses

    spec = dataclasses.replace(_XYZ, within=dt.timedelta(minutes=30))
    eng = N.Nfa(spec)

    def run(times_ms):
        stt = N.NfaState()
        out = []
        for i, (t, m) in enumerate(times_ms):
            pred = [m == 1, m == 2, m == 0]
            matches, _ = eng.step(stt, t * 60_000_000, pred, i)
            out.extend(matches)
        return out

    # X@0 Y@10 X@20 Y@25 Z@29 -> span 29min < 30 -> match
    ok = run([(0, 1), (10, 2), (20, 1), (25, 2), (29, 0)])
    assert len(ok) == 1 and ok[0]["X"][2] == 2
    # same shape but Z at exactly +30 -> the run from 0 is pruned; the
    # inner chain X@20 Y@25 Z@30 (span 10) survives and wins instead
    late = run([(0, 1), (10, 2), (20, 1), (25, 2), (30, 0)])
    assert len(late) == 1 and late[0]["X"][:3] == (2, 2, 1)


def test_loop_group_skip_to_next_one_match_per_start():
    """SKIP TO NEXT ROW with a loop group: every eligible start row
    emits at most one match and starts stay independent — on
    1,2,1,2,0 both X starts complete at the same Z and BOTH emit."""
    import dataclasses

    from flink_cep_examples_spark.plans.pattern import SKIP_TO_NEXT

    spec = dataclasses.replace(_XYZ, after_match=SKIP_TO_NEXT)
    eng = N.Nfa(spec)
    stt = N.NfaState()
    out = []
    for i, m in enumerate([1, 2, 1, 2, 0]):
        pred = [m == 1, m == 2, m == 0]
        matches, _ = eng.step(stt, i * 1000, pred, i)
        out.extend((d["X"][0], d["X"][2]) for d in matches)
    assert sorted(out) == [(0, 2), (2, 1)]


def _run_xyz_noskip(ms):
    import dataclasses

    from flink_cep_examples_spark.plans.pattern import NO_SKIP

    eng = N.Nfa(dataclasses.replace(_XYZ, after_match=NO_SKIP))
    stt = N.NfaState()
    out = []
    for i, m in enumerate(ms):
        pred = [m == 1, m == 2, m == 0]
        matches, _ = eng.step(stt, i * 1000, pred, i)
        for d in matches:
            out.append((d["X"][0], d["Z"][1], d["X"][2]))
    return out


def _brute_xyz_noskip(ms):
    """NO_SKIP brute force: EVERY phase-correct alternating chain
    ending at each Z row emits (no discarding)."""
    out = []
    for t, m in enumerate(ms):
        if m != 0:
            continue
        for s in range(0, t - 1):
            if ms[s] != 1 or (t - s) % 2 != 0:
                continue
            if all(ms[s + j] == 1 + j % 2 for j in range(t - s)):
                out.append((s, t, (t - s) // 2))
    return out


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2), max_size=30))
def test_loop_nfa_noskip_matches_brute_force(ms):
    assert sorted(_run_xyz_noskip(ms)) == sorted(_brute_xyz_noskip(ms))


@pytest.mark.slow
def test_streaming_group_star_matches_batch(spark, tmp_path):
    """(X Y)* on a STREAM: the star compiles to alternation branches
    (one carrying a loop group) and rides the streaming alternation
    coordinator — the replay must equal batch."""
    ms = [3, 0, 3, 1, 2, 0, 3, 1, 2, 1, 2, 0, 9, 9]
    df = _class_df(spark, ms)
    body = """
        PARTITION BY id ORDER BY event_time, seq
        MEASURES FIRST(A.seq) AS a, LAST(Z.seq) AS e, COUNT(X.*) AS k
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN (A (X Y)* Z)
        DEFINE A AS m = 3, X AS m = 1, Y AS m = 2, Z AS m = 0
    """
    batch = sorted((r.a, r.e, r.k) for r in match_recognize(df, body).collect())
    assert batch

    src = str(tmp_path / "star_stream")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = match_recognize(stream, body, watermark_delay="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("star_stream_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.a, r.e, r.k)
        for r in spark.sql("SELECT * FROM star_stream_mem").collect()
    )
    assert got == batch
