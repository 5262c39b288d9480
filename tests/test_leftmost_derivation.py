"""SQL:2016 "leftmost" derivation for group-quantifier expansions
(round 5): the earliest-LISTED alternative that completes wins a start
even when a later-listed one completes earlier — completions are held
until every earlier-listed branch's run for that start is dead
(operators/nfa.py::resolve_alternation_helds). Pure group expansions
list branches in greedy priority (more repetitions first), so this
closes the round-4 min-count-preferred deviation for (B C){n,m} / ?.

Covers: hold-and-release on both skip strategies, the PAST LAST ROW
sequential resolution with selective (span-bounded) run discard, a
seeded random fast-path-vs-coordinator differential, and the
batch/streaming agreement.
"""

from __future__ import annotations

import datetime as dt
import random

import pytest

pytestmark = pytest.mark.slow  # round-17 driver-budget deselection (VERDICT r16 item 1); round close runs `pytest -m slow`

from flink_cep_examples_spark.plans.pattern import AlternationSpec
from flink_cep_examples_spark.sql.match_recognize import (
    match_recognize,
    parse_match_recognize,
)

_SCHEMA = "id string, event_time timestamp, seq long, fd boolean, fc boolean"


def _df(spark, flags, key="k"):
    rows = [
        (key, dt.datetime(2020, 5, 1, 11, 0, 0) + dt.timedelta(minutes=i), i, d, u)
        for i, (d, u) in enumerate(flags)
    ]
    return spark.createDataFrame(rows, _SCHEMA)


_BODY_TO_NEXT = """
  PARTITION BY id ORDER BY event_time
  MEASURES COUNT(D.*) AS nd, FIRST(D.seq) AS s
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN ((D U){1,2})
  DEFINE D AS fd, U AS fc
"""

_BODY_PAST_LAST = _BODY_TO_NEXT.replace("SKIP TO NEXT ROW", "SKIP PAST LAST ROW")

D, U, X = (True, False), (False, True), (False, False)


@pytest.mark.parametrize("fast", [True, False])
def test_leftmost_prefers_longer_held_completion(spark, fast):
    """D U D U: the 2-repetition branch (listed first) wins start 0
    although the 1-repetition completion arrived two rows earlier."""
    got = sorted(
        (r.s, r.nd)
        for r in match_recognize(
            _df(spark, [D, U, D, U]), _BODY_TO_NEXT, use_fast_path=fast
        ).collect()
    )
    assert got == [(0, 2), (2, 1)]


@pytest.mark.parametrize("fast", [True, False])
def test_leftmost_releases_held_when_longer_branch_dies(spark, fast):
    """D U D X: the 2-repetition run for start 0 dies at the X row
    (strict contiguity), releasing the HELD 1-repetition completion."""
    got = sorted(
        (r.s, r.nd)
        for r in match_recognize(
            _df(spark, [D, U, D, X]), _BODY_TO_NEXT, use_fast_path=fast
        ).collect()
    )
    assert got == [(0, 1)]


def test_leftmost_past_last_sequential_resolution(spark):
    """PAST LAST ROW: start 0's greedy 2-repetition winner spans rows
    0-3, discarding the run begun at row 2 (inside the span); scanning
    resumes at row 4 whose 1-repetition match survives. Eager emission
    would have produced three 1-repetition matches."""
    got = sorted(
        (r.s, r.nd)
        for r in match_recognize(
            _df(spark, [D, U, D, U, D, U]), _BODY_PAST_LAST
        ).collect()
    )
    assert got == [(0, 2), (4, 1)]


def _dsl_leftmost_spec():
    """Subset-free DSL twin of ((D U){1,2}) — the shape that can ride
    the leftmost CLOSED FORM (SQL group expansions carry auto-SUBSET
    unions, which always route to the coordinator)."""
    from flink_cep_examples_spark.plans.pattern import (
        Measure,
        Pattern,
        SKIP_TO_NEXT,
        alternation,
    )

    two = (
        Pattern.begin("D1", skip=SKIP_TO_NEXT).where("fd")
        .next("U1").where("fc")
        .next("D2").where("fd")
        .next("U2").where("fc")
    )
    one = Pattern.begin("D1", skip=SKIP_TO_NEXT).where("fd").next("U1").where("fc")
    return alternation(
        two,
        one,
        measures=(
            Measure("s", "D1", "seq", "first"),
            Measure("n2", "D2", "seq", "count"),
        ),
        derivation="leftmost",
    )


def test_leftmost_spec_flag_and_fast_path_gate():
    spec = parse_match_recognize(_BODY_TO_NEXT)
    assert isinstance(spec, AlternationSpec)
    assert spec.derivation == "leftmost"
    from flink_cep_examples_spark.operators.fast_path import (
        fast_alternation_applicable,
    )

    # SQL group expansions ride the closed form too (round 5): their
    # auto-SUBSET unions resolve to constant offsets per fixed branch
    assert fast_alternation_applicable(spec)
    dsl = _dsl_leftmost_spec()
    assert fast_alternation_applicable(dsl)
    # ...unless it asks for MATCH_NUMBER (emission order is
    # held-resolution order, not a window expression)
    import dataclasses

    from flink_cep_examples_spark.plans.pattern import Measure

    mn = dataclasses.replace(
        dsl, measures=dsl.measures + (Measure("mn", None, None, "match_number"),)
    )
    assert not fast_alternation_applicable(mn)


def test_leftmost_differential_fast_vs_coordinator(spark):
    """Seeded random streams: the leftmost closed form and the
    hold-and-wait coordinator must agree exactly on the subset-free
    DSL spec."""
    from flink_cep_examples_spark.operators.cep_batch import match_pattern
    from flink_cep_examples_spark.operators.fast_path import (
        match_pattern_alternation_fast,
    )

    spec = _dsl_leftmost_spec()
    rng = random.Random(20260814)
    for trial in range(6):
        flags = [
            (rng.random() < 0.45, rng.random() < 0.45) for _ in range(40)
        ]
        df = _df(spark, flags)
        fast = sorted(
            (r.s, r.n2)
            for r in match_pattern_alternation_fast(df, spec).collect()
        )
        slow = sorted(
            (r.s, r.n2)
            for r in match_pattern(df, spec).collect()
        )
        assert fast == slow, (trial, flags, fast, slow)


def test_leftmost_streaming_matches_batch(spark, tmp_path):
    """The held completions ride the streaming state store (persisted
    per key across micro-batches, resolved as watermark-expired runs
    die): replaying the stream must reproduce the batch leftmost match
    set exactly."""
    from flink_cep_examples_spark.operators.cep_batch import match_pattern

    rng = random.Random(7)
    flags = [(rng.random() < 0.5, rng.random() < 0.5) for _ in range(60)]
    flags += [(False, False)] * 3  # sentinel rows push the watermark
    df = _df(spark, flags)
    # the streaming tier rejects SUBSET unions (batch-tier), so the
    # subset-free DSL twin is the streamable leftmost shape
    spec = _dsl_leftmost_spec()
    batch = sorted(
        (r.s, r.n2)
        for r in match_pattern(df, spec).collect()
    )

    from flink_cep_examples_spark.streaming.cep_stream import (
        match_pattern_stream,
    )
    src_dir = tmp_path / "src"
    df.coalesce(1).write.parquet(str(src_dir))
    stream = spark.readStream.schema(df.schema).parquet(str(src_dir))
    out = match_pattern_stream(
        stream, spec, watermark_delay="0 seconds"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("leftmost_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.s, r.n2)
        for r in spark.sql("SELECT * FROM leftmost_stream").collect()
    )
    assert got == batch and len(batch) >= 3


def test_reluctant_group_range_prefers_fewest(spark):
    """{n,m}? — the SQL:2016 RELUCTANT group marker lists branches
    fewest-repetitions-first, so under leftmost derivation the
    1-repetition match wins start 0 (the greedy twin of
    test_leftmost_prefers_longer_held_completion)."""
    body = _BODY_TO_NEXT.replace("(D U){1,2}", "(D U){1,2}?")
    spec = parse_match_recognize(body)
    assert isinstance(spec, AlternationSpec)
    assert spec.derivation == "leftmost"
    assert len(spec.alternatives[0].variables) == 2  # fewest first
    got = sorted(
        (r.s, r.nd)
        for r in match_recognize(_df(spark, [D, U, D, U]), body).collect()
    )
    assert got == [(0, 1), (2, 1)]


def test_sql_group_differential_fast_vs_coordinator(spark):
    """The SQL group expansion (auto-SUBSET measures, round-5 closed
    form) must agree with the coordinator on seeded random streams —
    pins the compile-time SUBSET span resolution (FIRST = min offset,
    LAST = max end, COUNT = summed widths per branch)."""
    rng = random.Random(99)
    body = _BODY_TO_NEXT.replace(
        "COUNT(D.*) AS nd, FIRST(D.seq) AS s",
        "COUNT(D.*) AS nd, FIRST(D.seq) AS s, LAST(U.seq) AS ulast, "
        "CLASSIFIER() AS cls",
    )
    for trial in range(5):
        flags = [
            (rng.random() < 0.5, rng.random() < 0.5) for _ in range(40)
        ]
        df = _df(spark, flags)
        fast = sorted(
            (r.s, r.nd, r.ulast, r.cls)
            for r in match_recognize(df, body, use_fast_path=True).collect()
        )
        slow = sorted(
            (r.s, r.nd, r.ulast, r.cls)
            for r in match_recognize(df, body, use_fast_path=False).collect()
        )
        assert fast == slow, (trial, flags, fast, slow)


def test_sql_group_pattern_streams_with_subset_measures(spark, tmp_path):
    """Round 5: streaming SUBSET resolution — measures over the
    parser's auto-generated group-copy unions (COUNT(D.*) /
    FIRST(D.seq) with D = D__1 ∪ D__2) now resolve in the streaming
    emit by merging ordered component spans, so SQL group-quantifier
    patterns stream. Replay must equal batch exactly."""
    rng = random.Random(11)
    flags = [(rng.random() < 0.5, rng.random() < 0.5) for _ in range(50)]
    flags += [(False, False)] * 3  # sentinels push the watermark
    df = _df(spark, flags)
    batch = sorted(
        (r.s, r.nd)
        for r in match_recognize(df, _BODY_TO_NEXT).collect()
    )
    src_dir = tmp_path / "src"
    df.coalesce(1).write.parquet(str(src_dir))
    stream = spark.readStream.schema(df.schema).parquet(str(src_dir))
    out = match_recognize(stream, _BODY_TO_NEXT, watermark_delay="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("sql_group_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.s, r.nd)
        for r in spark.sql("SELECT * FROM sql_group_stream").collect()
    )
    assert got == batch and len(batch) >= 3


def test_alternation_all_rows_with_exclusion(spark):
    """ALL ROWS PER MATCH on a ranged group with an excluded copy:
    {- U -} rows shape the match but emit no output rows; classifier
    and match_seq come from the emitting copies only."""
    body = """
      PARTITION BY id ORDER BY event_time
      MEASURES COUNT(D.*) AS nd
      ALL ROWS PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN ((D {- U -}){1,2})
      DEFINE D AS fd, U AS fc
    """
    got = sorted(
        (r.seq, r.classifier, r.match_seq, r.nd)
        for r in match_recognize(_df(spark, [D, U, D, U]), body).collect()
    )
    # greedy 2-rep from start 0 (rows 0..3, U rows excluded) and
    # 1-rep from start 2 (row 3 excluded)
    assert got == [
        (0, "D__1", 0, 2),
        (2, "D__1", 1, 1),
        (2, "D__2", 0, 2),
    ]


def test_alternation_all_rows_streaming_boundary(spark, tmp_path):
    """ALL ROWS alternation streams since round 11 under SKIP PAST
    LAST + eager; since round 13 the SKIP TO NEXT shape (leftmost
    group expansion, overlapping matches) streams too via the
    (start, end, alternative) reorder hold — agreement with batch's
    renumbered output, held matches resolving across the replay."""
    body = _BODY_TO_NEXT.replace("ONE ROW PER MATCH", "ALL ROWS PER MATCH")
    for tag, ms in (("a", [D, U, X]), ("b", [D, U, D, U, D, U, X])):
        df = _df(spark, ms)
        batch = sorted(map(tuple, match_recognize(df, body).collect()))
        assert batch
        src = tmp_path / f"sab_{tag}"
        df.coalesce(1).write.parquet(str(src))
        stream = spark.readStream.schema(df.schema).parquet(str(src))
        out = match_recognize(stream, body, watermark_delay="0 seconds")
        q = (
            out.writeStream.format("memory")
            .queryName(f"sab_{tag}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(map(tuple, spark.table(f"sab_{tag}").collect()))
        assert got == batch, (tag, got, batch)


def test_alternation_all_rows_rejects_variable_width():
    """ALL ROWS needs fixed-width strict alternatives — a B* inside an
    alternation branch cannot reconstruct row sets from spans."""
    with pytest.raises(NotImplementedError, match="fixed-width"):
        parse_match_recognize(
            """
            PARTITION BY id ORDER BY event_time
            MEASURES COUNT(D.*) AS nd
            ALL ROWS PER MATCH
            PATTERN (D U* | U)
            DEFINE D AS fd, U AS fc
            """
        ).validate()


# ---------------------------------------------------------------------------
# Hypothesis: the leftmost coordinator vs the TEXTBOOK derivation scan


def _mk_leftmost_spec(after_match):
    """Three fixed-width strict branches in priority order (widths 3,
    2, 1 — shorter branches complete earlier but are listed LATER, so
    hold-and-wait is exercised on every overlap)."""
    from flink_cep_examples_spark.plans.pattern import (
        Measure,
        Pattern,
        alternation,
    )

    b0 = (
        Pattern.begin("A0", skip=after_match).where("fd")
        .next("B0").where("fc")
        .next("C0").where("fd")
    )
    b1 = Pattern.begin("A1", skip=after_match).where("fd").next("B1").where("fc")
    b2 = Pattern.begin("A2", skip=after_match).where("fc")
    return alternation(
        b0, b1, b2,
        measures=(
            Measure("s0", "A0", "seq", "first"),
            Measure("s1", "A1", "seq", "first"),
            Measure("s2", "A2", "seq", "first"),
        ),
        derivation="leftmost",
    )


_BRANCH_SEQS = [("d", "u", "d"), ("d", "u"), ("u",)]


def _row_ok(flags, i, sym):
    d, u = flags[i]
    return d if sym == "d" else u


def _brute_leftmost(flags, after_match):
    """Textbook SQL:2016 derivation: scan starts in order; at each
    start the winner is the FIRST branch in list order whose whole
    width matches (completion timing irrelevant). PAST LAST resumes
    after the match end; TO NEXT emits per start independently."""
    n = len(flags)
    out = []
    if after_match == "skip_past_last_event":
        pos = 0
        while pos < n:
            hit = None
            for s in range(pos, n):
                for b, seq in enumerate(_BRANCH_SEQS):
                    if s + len(seq) <= n and all(
                        _row_ok(flags, s + i, sym) for i, sym in enumerate(seq)
                    ):
                        hit = (s, b)
                        break
                if hit:
                    break
            if not hit:
                break
            out.append(hit)
            pos = hit[0] + len(_BRANCH_SEQS[hit[1]])
    else:  # skip_to_next: every start decides independently
        for s in range(n):
            for b, seq in enumerate(_BRANCH_SEQS):
                if s + len(seq) <= n and all(
                    _row_ok(flags, s + i, sym) for i, sym in enumerate(seq)
                ):
                    out.append((s, b))
                    break
    return sorted(out)


from hypothesis import given, settings, strategies as st  # noqa: E402

from flink_cep_examples_spark.plans.pattern import (  # noqa: E402
    SKIP_PAST_LAST_EVENT,
    SKIP_TO_NEXT,
)


@settings(max_examples=25, deadline=None)
@given(
    flags=st.lists(
        st.tuples(st.booleans(), st.booleans()), min_size=1, max_size=18
    ),
    after=st.sampled_from([SKIP_PAST_LAST_EVENT, SKIP_TO_NEXT]),
)
def test_leftmost_coordinator_matches_textbook_scan(spark, flags, after):
    spec = _mk_leftmost_spec(after)
    from flink_cep_examples_spark.operators.cep_batch import match_pattern

    df = _df(spark, flags)
    got = []
    for r in match_pattern(df, spec).collect():
        for b, col in enumerate(("s0", "s1", "s2")):
            v = getattr(r, col)
            if v is not None:
                got.append((v, b))
                break
    assert sorted(got) == _brute_leftmost(flags, after), flags


def test_streaming_alternation_match_number_agrees_with_batch(spark, tmp_path):
    """MATCH_NUMBER() on a streaming EAGER alternation: a per-key
    monotone counter in the bucket state reproduces the batch
    numbering exactly (eager emission order = completion order in
    both tiers)."""
    from flink_cep_examples_spark.operators.cep_batch import match_pattern
    from flink_cep_examples_spark.plans.pattern import (
        Measure,
        Pattern,
        SKIP_TO_NEXT,
        alternation,
    )
    from flink_cep_examples_spark.streaming.cep_stream import (
        match_pattern_stream,
    )

    spec = alternation(
        Pattern.begin("A", skip=SKIP_TO_NEXT).where("fd").next("C").where("fc"),
        Pattern.begin("A", skip=SKIP_TO_NEXT).where("fd")
        .next("D").where("fd").times(2),
        measures=(
            Measure("s", "A", "seq", "first"),
            Measure("mn", None, None, "match_number"),
        ),
    )
    rng = random.Random(3)
    flags = [(rng.random() < 0.55, rng.random() < 0.4) for _ in range(60)]
    flags += [(False, False)] * 3
    df = _df(spark, flags)
    batch = sorted(
        (r.s, r.mn) for r in match_pattern(df, spec).collect()
    )
    src = tmp_path / "src"
    df.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    out = match_pattern_stream(
        stream, spec, watermark_delay="0 seconds"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("alt_mn_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.s, r.mn)
        for r in spark.sql("SELECT * FROM alt_mn_stream").collect()
    )
    assert got == batch and len(batch) >= 3


def test_streaming_alternation_match_number_leftmost_matches_batch(
    spark, tmp_path
):
    """Round 13: MATCH_NUMBER under leftmost derivation streams via
    the (start, end, alternative) reorder hold — the former loud
    reject ("resolution order can differ at watermark boundaries") is
    closed by buffering completions until no earlier start is
    undecided, which reproduces batch's renumbering whatever the
    resolution order was."""
    body = _BODY_TO_NEXT.replace(
        "COUNT(D.*) AS nd", "MATCH_NUMBER() AS mn, COUNT(D.*) AS nd"
    )
    # every corpus ends with an inert row so the stream's held runs
    # die at a CONSUMED row (batch resolves the same holds at
    # end-of-input; an open-ended stream would rightly keep waiting)
    for tag, ms in (("a", [D, U, X]), ("b", [D, U, D, U, D, U, X]),
                    ("c", [D, U, D, X, D, U, D, U, X])):
        df = _df(spark, ms)
        batch = sorted(map(tuple, match_recognize(df, body).collect()))
        src = tmp_path / f"src_{tag}"
        df.coalesce(1).write.parquet(str(src))
        stream = spark.readStream.schema(df.schema).parquet(str(src))
        out = match_recognize(stream, body, watermark_delay="0 seconds")
        q = (
            out.writeStream.format("memory")
            .queryName(f"lmn_{tag}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            map(tuple, spark.table(f"lmn_{tag}").collect())
        )
        assert got == batch, (tag, got, batch)


def test_alternation_all_rows_running_measures(spark):
    """RUNNING semantics under alternation ALL ROWS: COUNT climbs per
    output row within each match; RUNNING CLASSIFIER is the current
    row's own copy (SQL:2016), FINAL repeats the whole-match value."""
    body = """
      PARTITION BY id ORDER BY event_time
      MEASURES RUNNING COUNT(D.*) AS d_so_far,
               FINAL COUNT(D.*) AS nd,
               RUNNING CLASSIFIER() AS cur
      ALL ROWS PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN ((D U){1,2})
      DEFINE D AS fd, U AS fc
    """
    got = sorted(
        (r.match_seq, r.seq, r.d_so_far, r.nd, r.cur)
        for r in match_recognize(_df(spark, [D, U, D, U]), body).collect()
    )
    assert got == [
        (0, 0, 1, 2, "D__1"),
        (0, 1, 1, 2, "U__1"),
        (0, 2, 2, 2, "D__2"),
        (0, 3, 2, 2, "U__2"),
        (1, 2, 1, 1, "D__1"),
        (1, 3, 1, 1, "U__1"),
    ]


def test_alternation_all_rows_running_excl_streaming(spark, tmp_path):
    """Exclusion × RUNNING under STREAMING top-level alternation ALL
    ROWS (round 12, ADVICE r11 high): an excluded {- C -} row sits
    BETWEEN two emitted rows of its branch, so it must advance the
    RUNNING walk's state (c_so_far jumps from 0 at the A row to 1 at
    the E row) while emitting no output row — and the streamed rows
    must agree with batch exactly. The group-copy route stays a loud
    leftmost-derivation reject; this is the eager route."""
    body = """
      PARTITION BY id ORDER BY event_time
      MEASURES RUNNING COUNT(C.*) AS c_so_far,
               RUNNING SUM(B.seq) AS b_run,
               FINAL COUNT(B.*) AS nb
      ALL ROWS PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A {- C -} E | A B{2})
      DEFINE A AS fd, B AS fd, C AS fc, E AS fd
    """
    df = _df(spark, [D, U, D, X, D, D, D, X, D, U, D]).unionByName(
        # far-future inert sentinel: advances the watermark past the
        # last real rows so availableNow flushes every match
        spark.createDataFrame(
            [("k", dt.datetime(2020, 5, 2, 0, 0, 0), 99, False, False)],
            _SCHEMA,
        )
    )
    batch = sorted(
        tuple(r) for r in match_recognize(df, body).collect()
    )
    assert batch
    cols = {
        f.name: i
        for i, f in enumerate(match_recognize(df, body).schema.fields)
    }
    # the excluded C row advanced the running count between A and E
    assert any(r[cols["c_so_far"]] == 1 for r in batch)
    assert all(r[cols["classifier"]] != "C" for r in batch)
    # the B branch's running sum varies mid-match
    assert any(
        r[cols["nb"]] == 2 and r[cols["b_run"]] is None for r in batch
    )
    src = tmp_path / "excl_run_src"
    df.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    out = match_recognize(stream, body)
    q = (
        out.writeStream.format("memory")
        .queryName("alt_excl_run_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        tuple(r) for r in spark.table("alt_excl_run_mem").collect()
    )
    assert got == batch


def test_leftmost_helds_survive_checkpoint_restart(spark, tmp_path):
    """Crash/redeploy story for the held-completion state: stop the
    stream at a point where a SHORTER branch's completion is HELD
    (the greedy branch still alive mid-pattern), restart a NEW query
    from the same checkpoint, and require the batch answer — the held
    dict rides the pickled state blob alongside the NfaStates."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.operators.cep_batch import match_pattern
    from flink_cep_examples_spark.streaming.cep_stream import (
        match_pattern_stream,
    )

    spec = _dsl_leftmost_spec()
    flags = [D, U, D, U, D, X, D, U] + [X] * 3  # sentinels push watermark
    df = _df(spark, flags)
    expected = sorted(
        (r.s, r.n2) for r in match_pattern(df, spec).collect()
    )
    # start 0 must resolve to the GREEDY branch (n2 = COUNT(D2) = 1)
    # ACROSS the restart boundary
    assert (0, 1) in expected

    src = tmp_path / "src"
    src.mkdir()
    chk = str(tmp_path / "chk")
    sink = str(tmp_path / "out")
    # stop after row 2: start 0's 1-repetition completion is HELD
    # (the 2-repetition run is alive, waiting for row 3)
    df.filter(F.col("seq") <= 2).coalesce(1).write.parquet(str(src / "p1"))
    schema = df.schema

    def run_once() -> None:
        stream = spark.readStream.schema(schema).option(
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

    run_once()
    df.filter(F.col("seq") > 2).coalesce(1).write.parquet(str(src / "p2"))
    run_once()
    got = sorted(
        (r.s, r.n2) for r in spark.read.parquet(sink).collect()
    )
    assert got == expected


# ---------------------------------------------------------------------------
# Round 6: leftmost derivation for MIXED written '|' + group expansion
# (the round-5 engine refused these loudly; the parser's branch list
# is written-branch-major / greedy-minor, so leftmost emission
# realizes the standard's preferment for the whole pattern).
# ---------------------------------------------------------------------------


def test_mixed_alternation_group_selects_leftmost():
    from flink_cep_examples_spark.sql.match_recognize import (
        parse_match_recognize,
    )

    spec = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time
        MEASURES COUNT(D.*) AS nd
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN ((D U){1,2} | F)
        DEFINE D AS m = 1, U AS m = 2, F AS m = 3
        """
    )
    assert spec.derivation == "leftmost"
    # written-branch-major, greedy-minor priority order
    assert [[v.name for v in a.variables] for a in spec.alternatives] == [
        ["D__1", "U__1", "D__2", "U__2"],
        ["D__1", "U__1"],
        ["F"],
    ]
    # pure written alternation (nothing expanded) keeps documented eager
    plain = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time
        MEASURES FIRST(A.seq) AS s
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN (A C | A B)
        DEFINE A AS m = 1, B AS m = 2, C AS m = 3
        """
    )
    assert plain.derivation == "eager"


def test_mixed_alternation_group_end_to_end(spark):
    """((D U){1,2} | F) under SKIP TO NEXT ROW: per start, priority is
    2 reps > 1 rep > the F fallback — the greedy completion is HELD
    while the longer branch lives, and F never preempts a D-start."""
    import datetime as dt

    from flink_cep_examples_spark.sql.match_recognize import match_recognize

    ms = [1, 2, 1, 2, 3, 1, 2, 3, 1]
    t0 = dt.datetime(2020, 5, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [("k", t0 + dt.timedelta(minutes=i), i, m) for i, m in enumerate(ms)],
        "id string, event_time timestamp, seq long, m long",
    )
    out = match_recognize(
        df,
        """
        PARTITION BY id ORDER BY event_time, seq
        MEASURES FIRST(D.seq) AS ds, FIRST(F.seq) AS fs,
                 COUNT(D.*) AS nd, CLASSIFIER() AS cl
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN ((D U){1,2} | F)
        DEFINE D AS m = 1, U AS m = 2, F AS m = 3
        """,
    )
    got = sorted(
        ((r.ds, r.fs, r.nd, r.cl) for r in out.collect()),
        key=lambda t: t[0] if t[0] is not None else t[1],
    )
    assert got == [
        (0, None, 2, "U__2"),   # greedy 2-rep wins start 0
        (2, None, 1, "U__1"),   # overlapping start inside the span
        (None, 4, 0, "F"),
        (5, None, 1, "U__1"),
        (None, 7, 0, "F"),      # dangling D at 8 never matches
    ]


def _mixed_nfa_matches(ms, after):
    """Drive the alternation coordinator directly (no Spark) for
    PATTERN ((D U){1,2} | F) over class sequence ms (1=D, 2=U, 3=F);
    returns (start_idx, end_idx, branch) per match in start order,
    where branch is 'DUDU' / 'DU' / 'F'."""
    import numpy as np

    from flink_cep_examples_spark.operators.nfa import (
        Nfa,
        scan_key_group_alternation,
    )
    from flink_cep_examples_spark.plans.pattern import (
        PatternSpec,
        PatternVar,
    )

    def alt(names):
        return PatternSpec(
            variables=tuple(PatternVar(n, f"p{n}") for n in names),
            after_match=after,
        )

    alts = [
        alt(("D1", "U1", "D2", "U2")),
        alt(("D3", "U3")),
        alt(("F",)),
    ]
    nfas = [Nfa(a) for a in alts]
    n = len(ms)
    is_d = np.array([m == 1 for m in ms])
    is_u = np.array([m == 2 for m in ms])
    is_f = np.array([m == 3 for m in ms])
    preds = [
        np.stack([is_d, is_u, is_d, is_u]),
        np.stack([is_d, is_u]),
        np.stack([is_f]),
    ]
    ts = np.arange(n, dtype=np.int64) * 1000
    out = scan_key_group_alternation(
        nfas, preds, ts, after, derivation="leftmost"
    )
    label = {0: "DUDU", 1: "DU", 2: "F"}
    res = []
    for a, match in out:
        spans = list(match.values())
        res.append(
            (min(s[0] for s in spans), max(s[1] for s in spans), label[a])
        )
    return sorted(res)


def _mixed_re_matches(ms, skip_past):
    """Independent reference: SQL:2016 preferment for ((D U){1,2} | F)
    == Python re leftmost-greedy on the class string ('(?:du){1,2}'
    prefers 2 repetitions; '|' prefers the left branch)."""
    import re

    s = "".join({1: "d", 2: "u", 3: "f"}.get(m, ".") for m in ms)
    pat = re.compile(r"(?:du){1,2}|f")
    out = []
    if skip_past:
        for mt in pat.finditer(s):
            out.append((mt.start(), mt.end() - 1))
    else:  # SKIP TO NEXT ROW: one anchored greedy match per start
        for i in range(len(s)):
            mt = pat.match(s, i)
            if mt:
                out.append((i, mt.end() - 1))
    return sorted(
        (a, b, {1: "F", 2: "DU", 4: "DUDU"}[b - a + 1]) for a, b in out
    )


@settings(max_examples=400, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=3), max_size=40))
def test_mixed_alternation_matches_re_skip_to_next(ms):
    from flink_cep_examples_spark.plans.pattern import SKIP_TO_NEXT

    assert _mixed_nfa_matches(ms, SKIP_TO_NEXT) == _mixed_re_matches(
        ms, skip_past=False
    )


@settings(max_examples=400, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=3), max_size=40))
def test_mixed_alternation_matches_re_skip_past(ms):
    from flink_cep_examples_spark.plans.pattern import (
        SKIP_PAST_LAST_EVENT,
    )

    assert _mixed_nfa_matches(ms, SKIP_PAST_LAST_EVENT) == _mixed_re_matches(
        ms, skip_past=True
    )


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_alternation_all_rows_running_streaming_differential(
    spark, tmp_path, seed
):
    """Seeded random streaming-vs-batch differential over the round-12
    RUNNING × streaming alternation ALL ROWS surface (the ADVICE r11
    high shape): random flag sequences through an eager two-branch
    pattern with an excluded mid-branch var and the full RUNNING
    battery (SUM/COUNT/CLASSIFIER) — streamed rows must equal batch
    bit-for-bit."""
    body = """
      PARTITION BY id ORDER BY event_time
      MEASURES RUNNING COUNT(C.*) AS c_so_far,
               RUNNING SUM(B.seq) AS b_run,
               RUNNING COUNT(B.*) AS nb_run,
               RUNNING CLASSIFIER() AS cur,
               FINAL COUNT(B.*) AS nb
      ALL ROWS PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A {- C -} E | A B{2})
      DEFINE A AS fd, B AS fd, C AS fc, E AS fd
    """
    rng = random.Random(seed)
    flags = [
        (rng.random() < 0.55, rng.random() < 0.35) for _ in range(80)
    ]
    df = _df(spark, flags).unionByName(
        spark.createDataFrame(
            [("k", dt.datetime(2020, 5, 2, 0, 0, 0), 999, False, False)],
            _SCHEMA,
        )
    )
    batch = sorted(
        tuple(r) for r in match_recognize(df, body).collect()
    )
    assert batch, seed
    src = tmp_path / f"alt_run_diff_{seed}"
    df.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    out = match_recognize(stream, body)
    q = (
        out.writeStream.format("memory")
        .queryName(f"alt_run_diff_{seed}")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        tuple(r)
        for r in spark.table(f"alt_run_diff_{seed}").collect()
    )
    assert got == batch, seed


def test_alternation_all_rows_running_subset_streaming(spark, tmp_path):
    """SUBSET-union RUNNING measures under streaming alternation ALL
    ROWS (round 12): the clipped-prefix walk merges the union's
    component captures by ordinal — streamed rows must equal batch
    exactly (the union sees rows of BOTH branches' variables)."""
    body = """
      PARTITION BY id ORDER BY event_time
      MEASURES RUNNING COUNT(W.*) AS w_so_far,
               RUNNING SUM(W.seq) AS w_run,
               FINAL COUNT(W.*) AS nw
      ALL ROWS PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A C | A B{2})
      SUBSET W = (B, C)
      DEFINE A AS fd, B AS fd, C AS fc
    """
    df = _df(spark, [D, U, X, D, D, D, X, D, U, D, D, D]).unionByName(
        spark.createDataFrame(
            [("k", dt.datetime(2020, 5, 2, 0, 0, 0), 999, False, False)],
            _SCHEMA,
        )
    )
    batch = sorted(tuple(r) for r in match_recognize(df, body).collect())
    assert batch
    cols = {
        f.name: i
        for i, f in enumerate(match_recognize(df, body).schema.fields)
    }
    # both branch shapes contribute union rows: some matches have
    # nw=1 (the C branch), some nw=2 (the B{2} branch)
    assert {r[cols["nw"]] for r in batch} == {1, 2}
    src = tmp_path / "alt_subset_run"
    df.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    out = match_recognize(stream, body)
    q = (
        out.writeStream.format("memory")
        .queryName("alt_subset_run_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        tuple(r) for r in spark.table("alt_subset_run_mem").collect()
    )
    assert got == batch
