"""MATCH_RECOGNIZE front-end tests: the reference SQL query verbatim
(FlinkSqlMatchRecognizeExample.scala:50-68) must produce the golden
output, and the parser must build the same spec as the DSL."""

from __future__ import annotations

from datetime import timedelta

import pytest

from flink_cep_examples_spark.plans.pattern import (
    ONCE,
    SKIP_PAST_LAST_EVENT,
    ZERO_OR_MORE,
    billing_pattern,
)
from flink_cep_examples_spark.sql.match_recognize import (
    parse_match_recognize,
    sql_with_match_recognize,
)
from flink_cep_examples_spark.sources.billing import billing_from_rows

from tests.fixtures import EXPECTED_MATCHES, GOLDEN_INPUT_ROWS

# The reference query body, verbatim apart from the rowtime column name
# (our event-time column is event_time; Flink's was the registered
# rowtime attribute user_action_time).
REFERENCE_MR_BODY = """
    PARTITION BY id
    ORDER BY event_time
    MEASURES
      A.datetime AS alarm_trigger_datetime,
      C.datetime AS topup_datetime
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (A B* C) WITHIN INTERVAL '1' HOUR
    DEFINE
      A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
      B AS B.balanceBefore >= B.balanceAfter,
      C AS C.balanceBefore < C.balanceAfter
"""


def test_parser_matches_dsl_spec():
    spec = parse_match_recognize(REFERENCE_MR_BODY)
    dsl = billing_pattern()
    assert [v.name for v in spec.variables] == ["A", "B", "C"]
    assert [v.quantifier for v in spec.variables] == [ONCE, ZERO_OR_MORE, ONCE]
    assert spec.variables[0].predicate == "balanceBefore >= 10 AND balanceAfter < 10"
    assert spec.variables[1].predicate == "balanceBefore >= balanceAfter"
    assert spec.variables[2].predicate == "balanceBefore < balanceAfter"
    assert spec.within == timedelta(hours=1) == dsl.within
    assert spec.after_match == SKIP_PAST_LAST_EVENT
    assert spec.key_cols == ("id",)
    assert spec.order_col == "event_time"
    assert [m.name for m in spec.measures] == [
        "alarm_trigger_datetime",
        "topup_datetime",
    ]


@pytest.mark.parametrize("use_fast_path", [True, False])
def test_reference_sql_query_golden(spark, use_fast_path):
    df = billing_from_rows(spark, GOLDEN_INPUT_ROWS)
    query = f"SELECT * FROM billing MATCH_RECOGNIZE ({REFERENCE_MR_BODY}) t"
    out = sql_with_match_recognize(spark, query, {"billing": df})
    rows = sorted(
        (r.id, r.alarm_trigger_datetime, r.topup_datetime) for r in out.collect()
    )
    assert rows == EXPECTED_MATCHES


@pytest.mark.slow
def test_streaming_sql_match_recognize_golden(spark, tmp_path):
    """The reference SQL program is a *streaming* job
    (FlinkSqlMatchRecognizeExample.scala:48-70): the same verbatim
    MATCH_RECOGNIZE body over a file stream must hit the golden output
    through the SQL front-end's streaming dispatch."""
    import time as _time

    from flink_cep_examples_spark.sources.billing import read_billing_csv_stream
    from tests.fixtures import GOLDEN_INPUT_ROWS as ROWS

    src = tmp_path / "in"
    src.mkdir()
    (src / "batch1.csv").write_text(
        "\n".join(",".join(map(str, r)) for r in ROWS) + "\n"
    )
    stream = read_billing_csv_stream(spark, str(src))
    query = f"SELECT * FROM billing MATCH_RECOGNIZE ({REFERENCE_MR_BODY}) t"
    out = sql_with_match_recognize(spark, query, {"billing": stream})
    assert out.isStreaming
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("mr_stream_out")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        # watermark sentinel pushes event time past every deadline
        (src / "batch2.csv").write_text("99,2021-01-01 00:00:00,5,5\n")
        q.processAllAvailable()
        deadline = _time.time() + 30
        while _time.time() < deadline:
            if spark.sql("SELECT * FROM mr_stream_out").count() >= 1:
                break
            _time.sleep(1)
    finally:
        q.stop()
    rows = sorted(
        (r.id, r.alarm_trigger_datetime, r.topup_datetime)
        for r in spark.sql("SELECT * FROM mr_stream_out").collect()
    )
    assert rows == EXPECTED_MATCHES


def test_measures_count_and_first_last(spark):
    body = """
      PARTITION BY id
      ORDER BY event_time
      MEASURES
        FIRST(A.datetime) AS alarm_dt,
        LAST(B.datetime) AS last_b_dt,
        COUNT(B.*) AS n_b,
        C.datetime AS topup_dt
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B* C) WITHIN INTERVAL '1' HOUR
      DEFINE
        A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
        B AS B.balanceBefore >= B.balanceAfter,
        C AS C.balanceBefore < C.balanceAfter
    """
    df = billing_from_rows(spark, GOLDEN_INPUT_ROWS)
    query = f"SELECT * FROM billing MATCH_RECOGNIZE ({body}) t"
    out = sql_with_match_recognize(spark, query, {"billing": df})
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.id, r.alarm_dt, r.topup_dt) == ("2", "2020-05-01 11:00:00", "2020-05-01 11:40:00")
    assert r.n_b == 2
    assert r.last_b_dt == "2020-05-01 11:30:00"


def test_parser_reluctant_quantifiers_and_skip_to():
    from flink_cep_examples_spark.plans.pattern import (
        ONE_OR_MORE,
        SKIP_TO_LAST,
        TIMES,
    )

    spec = parse_match_recognize(
        """
        PARTITION BY id
        ORDER BY event_time
        MEASURES A.datetime AS a_dt
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO LAST B
        PATTERN (A B+? C{1,3}? D*)
        DEFINE A AS x, B AS y, C AS z
        """
    )
    a, b, c, d = spec.variables
    assert (b.quantifier, b.greedy) == (ONE_OR_MORE, False)
    assert (c.quantifier, c.times, c.greedy) == (TIMES, (1, 3), False)
    assert (a.greedy, d.greedy) == (True, True)
    assert spec.after_match == SKIP_TO_LAST
    assert spec.skip_var == "B"


def test_skip_to_last_b_equals_skip_past_on_billing_algebra(spark):
    """On the reference predicate algebra (A ⊂ B, B = ¬C) overlapping
    matches are impossible, so SKIP TO LAST B must reproduce the golden
    SKIP PAST LAST ROW output exactly — pinning the new strategy
    through the full batch operator, where it takes the general NFA
    path (the compiled fast path only covers SKIP PAST LAST ROW)."""
    from flink_cep_examples_spark.sql.match_recognize import match_recognize

    df = billing_from_rows(spark, GOLDEN_INPUT_ROWS)
    body = REFERENCE_MR_BODY.replace(
        "SKIP PAST LAST ROW", "SKIP TO LAST B"
    )
    got = sorted(
        (r.id, r.alarm_trigger_datetime, r.topup_datetime)
        for r in match_recognize(df, body).collect()
    )
    assert got == sorted(EXPECTED_MATCHES)


def test_exclusion_parses_and_fast_matches_nfa(spark, sf_small):
    """{- B* -}: parser sets excluded on the loop variable only; the
    compiled all-rows path and the NFA tier emit identical row sets
    (matches unchanged, B rows omitted from output)."""
    from flink_cep_examples_spark.operators.cep_batch import match_pattern
    from flink_cep_examples_spark.queries.cep import (
        _MR_EXCL_BODY,
        cep_match_recognize_excl,
    )
    from flink_cep_examples_spark.sources.billing import events_as_billing
    from flink_cep_examples_spark.sql.match_recognize import (
        parse_match_recognize,
    )

    spec = parse_match_recognize(_MR_EXCL_BODY)
    assert [v.excluded for v in spec.variables] == [False, True, False]

    import dataclasses

    spec = dataclasses.replace(spec, tiebreak_col="seq")
    df = events_as_billing(spark, sf_small)
    fast = sorted(map(tuple, cep_match_recognize_excl(spark, sf_small).collect()))
    nfa_out = match_pattern(df, spec).select(
        "id", "datetime", "classifier", "match_seq",
        "alarmTriggerDatetime", "topupDatetime",
    )
    nfa = sorted(map(tuple, nfa_out.collect()))
    assert fast == nfa and fast
    assert all(r[2] in ("A", "C") for r in fast)


def test_exclusion_parser_rejects_unbalanced():
    import pytest

    from flink_cep_examples_spark.sql.match_recognize import (
        _parse_pattern_clause,
    )

    with pytest.raises(ValueError, match="unclosed"):
        _parse_pattern_clause("( A {- B* C )")
    with pytest.raises(ValueError, match="unbalanced"):
        _parse_pattern_clause("( A B* -} C )")
    with pytest.raises(ValueError, match="nested"):
        _parse_pattern_clause("( A {- {- B* -} -} C )")
    # spacing-insensitive
    [(vars_, _lg, _lb)], _, _, _ = _parse_pattern_clause("( A {-B*-} C )")
    assert [(v[0], v[4]) for v in vars_] == [("A", False), ("B", True), ("C", False)]


def test_permute_lexicographic_preference(spark):
    """Two orderings (ABC and BAC) both cover the window — the binding
    must be the lexicographically-first (ABC): alarm from row 0, not
    row 1."""
    from flink_cep_examples_spark.sources.billing import billing_from_rows
    from flink_cep_examples_spark.sql.match_recognize import match_recognize
    from flink_cep_examples_spark.queries.cep import _MR_PERMUTE_BODY

    rows = [
        ("1", "2020-05-01 11:00:00", 50, 5),   # A (also B)
        ("1", "2020-05-01 11:10:00", 50, 5),   # A (also B)
        ("1", "2020-05-01 11:20:00", 5, 50),   # C
    ]
    df = billing_from_rows(spark, rows)
    out = match_recognize(df, _MR_PERMUTE_BODY, order_col="event_time")
    got = sorted(map(tuple, out.collect()))
    # start row 0: ABC binds alarm=11:00, topup=11:20; start rows 1-2
    # have no complete window
    assert got == [("1", "2020-05-01 11:00:00", "2020-05-01 11:20:00")]


def test_permute_rejects_unsupported_shapes(spark):
    import pytest

    from flink_cep_examples_spark.sources.billing import billing_from_rows
    from flink_cep_examples_spark.sql.match_recognize import (
        _parse_pattern_clause,
        match_recognize,
    )

    with pytest.raises(ValueError, match="bare variable"):
        _parse_pattern_clause("( PERMUTE (A, B*) )")
    [(vars_, _lg, _lb)], within, permute, _ = _parse_pattern_clause(
        "( PERMUTE (A, B) ) WITHIN INTERVAL '1' HOUR"
    )
    assert permute and within == "1 HOUR" and len(vars_) == 2

    df = billing_from_rows(spark, [("1", "2020-05-01 11:00:00", 50, 5)])
    body = """
      PARTITION BY id ORDER BY event_time
      MEASURES A.datetime AS a ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (PERMUTE (A, C))
      DEFINE A AS A.balanceAfter < 10, C AS C.balanceBefore < C.balanceAfter
    """
    with pytest.raises(NotImplementedError, match="SKIP TO NEXT"):
        match_recognize(df, body, order_col="event_time").collect()


def test_permute_within_bounds_window_span(spark):
    """WITHIN: a window whose span reaches the deadline is not a match
    (strict <, matching the NFA convention)."""
    from flink_cep_examples_spark.sources.billing import billing_from_rows
    from flink_cep_examples_spark.sql.match_recognize import match_recognize

    body = """
      PARTITION BY id ORDER BY event_time
      MEASURES A.datetime AS alarmTriggerDatetime, C.datetime AS topupDatetime
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (PERMUTE (A, C)) WITHIN INTERVAL '1' HOUR
      DEFINE
        A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
        C AS C.balanceBefore < C.balanceAfter
    """
    rows = [
        ("1", "2020-05-01 11:00:00", 50, 5),   # A
        ("1", "2020-05-01 12:00:00", 5, 50),   # C at exactly +1h: no
        ("2", "2020-05-01 11:00:00", 50, 5),   # A
        ("2", "2020-05-01 11:59:59", 5, 50),   # C inside: match
    ]
    df = billing_from_rows(spark, rows)
    got = sorted(map(tuple, match_recognize(df, body, order_col="event_time").collect()))
    assert got == [("2", "2020-05-01 11:00:00", "2020-05-01 11:59:59")]


def test_permute_matches_python_bruteforce(spark):
    """Third derivation for PERMUTE: a per-key Python brute force
    (orderings tried lexicographically per start row) must agree with
    the window closed form on a random seeded stream."""
    import random
    from itertools import permutations

    from flink_cep_examples_spark.sources.billing import billing_from_rows
    from flink_cep_examples_spark.sql.match_recognize import match_recognize
    from flink_cep_examples_spark.queries.cep import _MR_PERMUTE_BODY

    rng = random.Random(11)
    rows = [
        (str(k), f"2020-05-01 {10 + i // 60:02d}:{i % 60:02d}:00",
         rng.randint(0, 40), rng.randint(0, 40))
        for k in range(5)
        for i in range(rng.randint(3, 25))
    ]
    df = billing_from_rows(spark, rows)
    got = sorted(map(tuple, match_recognize(df, _MR_PERMUTE_BODY,
                                            order_col="event_time").collect()))

    # brute force over the same billing mapping
    def preds(bb, ba):
        return {"A": bb >= 10 and ba < 10, "B": bb >= ba, "C": bb < ba}

    per_key: dict[str, list] = {}
    for k, dt, bb, ba in rows:
        per_key.setdefault(k, []).append((dt, bb, ba))
    expect = []
    for k, seq_rows in per_key.items():
        seq_rows.sort()  # dt strings sort chronologically; gen order stable
        flags = [preds(bb, ba) for _, bb, ba in seq_rows]
        for r in range(len(seq_rows) - 2):
            for ordering in permutations("ABC"):
                if all(flags[r + i][v] for i, v in enumerate(ordering)):
                    alarm = seq_rows[r + ordering.index("A")][0]
                    topup = seq_rows[r + ordering.index("C")][0]
                    expect.append((k, alarm, topup))
                    break
    assert got == sorted(expect) and got


def test_order_by_second_column_is_tiebreak():
    from flink_cep_examples_spark.sql.match_recognize import (
        parse_match_recognize,
    )

    spec = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time, event_id
        MEASURES A.seq AS s
        ONE ROW PER MATCH
        PATTERN (A)
        DEFINE A AS fa
        """
    )
    assert spec.order_col == "event_time"
    assert spec.tiebreak_col == "event_id"


def test_permute_alternation_compilation_matches_closed_form(spark):
    """permute_to_alternation (the streaming path's compilation) must
    reproduce the batch PERMUTE closed form exactly on seeded random
    streams — orderings as alternatives in lexicographic order, the
    coordinator's leftmost preference = the closed form's
    lexicographic binding."""
    import random

    import datetime as dt

    from flink_cep_examples_spark.operators.cep_batch import match_pattern
    from flink_cep_examples_spark.operators.fast_path import (
        match_pattern_permute,
    )
    from flink_cep_examples_spark.plans.pattern import (
        Measure,
        PatternSpec,
        PatternVar,
        SKIP_TO_NEXT,
        permute_to_alternation,
    )

    spec = PatternSpec(
        variables=(
            PatternVar("A", "fa"),
            PatternVar("B", "fb"),
            PatternVar("C", "fc"),
        ),
        key_cols=("id",),
        order_col="event_time",
        after_match=SKIP_TO_NEXT,
        permute=True,
        measures=(
            Measure("s", "A", "seq", "first"),
            Measure("c_seq", "C", "seq", "first"),
        ),
    )
    rng = random.Random(3)
    rows = []
    for key in range(12):
        n = rng.randint(5, 30)
        for i in range(n):
            rows.append(
                (
                    f"k{key}",
                    dt.datetime(2020, 5, 1) + dt.timedelta(minutes=i),
                    i,
                    rng.random() < 0.4,
                    rng.random() < 0.4,
                    rng.random() < 0.4,
                )
            )
    df = spark.createDataFrame(
        rows,
        "id string, event_time timestamp, seq long, "
        "fa boolean, fb boolean, fc boolean",
    )
    closed = sorted(
        (r.id, r.s, r.c_seq)
        for r in match_pattern_permute(df, spec).drop("tag").collect()
    )
    alt = sorted(
        (r.id, r.s, r.c_seq)
        for r in match_pattern(
            df, permute_to_alternation(spec)
        ).collect()
    )
    assert closed and closed == alt


@pytest.mark.slow
def test_permute_streaming_matches_batch(spark, tmp_path):
    """PERMUTE on a streaming input (round 5): dispatches to the
    alternation coordinator in the bucketed state store — the replayed
    stream must equal the batch closed form."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.queries.cep import _MR_PERMUTE_BODY
    from flink_cep_examples_spark.sources.billing import billing_from_rows
    from flink_cep_examples_spark.sql.match_recognize import match_recognize

    rows = [
        ("1", "2020-05-01 11:00:00", 50, 5),
        ("1", "2020-05-01 11:10:00", 50, 5),
        ("1", "2020-05-01 11:20:00", 5, 50),
        ("2", "2020-05-01 11:00:00", 50, 40),   # B first
        ("2", "2020-05-01 11:05:00", 40, 5),    # A
        ("2", "2020-05-01 11:06:00", 5, 50),    # C -> BAC binding
        ("3", "2020-05-01 11:00:00", 5, 50),    # C alone: no window
        ("zz", "2031-01-01 00:00:00", 50, 50),  # watermark sentinel
    ]
    df = billing_from_rows(spark, rows)
    batch = sorted(
        map(
            tuple,
            match_recognize(
                df, _MR_PERMUTE_BODY, order_col="event_time"
            ).collect(),
        )
    )
    assert batch

    src = str(tmp_path / "permute_stream")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = match_recognize(
        stream, _MR_PERMUTE_BODY, order_col="event_time"
    )
    assert out.isStreaming
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("permute_stream_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.table("permute_stream_mem").collect()))
    assert got == batch
