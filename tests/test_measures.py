"""SQL:2016 measure extensions (round 4): aggregate MEASURES
(SUM/AVG/MIN/MAX/COUNT(var.col)), CLASSIFIER(), MATCH_NUMBER(), and
SUBSET union variables — unit semantics the catalog oracles can't pin
(NULL aggregates over empty spans, COUNT(col) null-skipping, parser
acceptance), plus validation and streaming gates.
"""

from __future__ import annotations

import datetime as dt

import pytest

from flink_cep_examples_spark.plans.pattern import (
    Measure,
    Pattern,
    PatternSpec,
    PatternVar,
    RELAXED,
    SKIP_PAST_LAST_EVENT,
)
from flink_cep_examples_spark.sql.match_recognize import (
    match_recognize,
    parse_match_recognize,
)

_SCHEMA = (
    "id string, event_time timestamp, seq long, "
    "balanceBefore double, balanceAfter double"
)


def _t(minute: int) -> dt.datetime:
    return dt.datetime(2020, 5, 1, 11, minute)


def _abc_body(measures: str, extra: str = "") -> str:
    return f"""
      PARTITION BY id
      ORDER BY event_time
      MEASURES {measures}
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B* C)
      {extra}
      DEFINE
        A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
        B AS B.balanceBefore >= B.balanceAfter,
        C AS C.balanceBefore < C.balanceAfter
    """


def test_empty_loop_aggregates_are_null(spark):
    """SUM/AVG/MIN/MAX over a variable that matched no rows is SQL
    NULL (not NaN, not 0); COUNT is 0. The NULL must survive the
    Arrow boundary (pandas nullable dtype, not float64 NaN)."""
    df = spark.createDataFrame(
        [("k1", _t(0), 1, 13.0, 9.0), ("k1", _t(30), 2, 9.0, 20.0)],
        _SCHEMA,
    )
    body = _abc_body(
        "SUM(B.balanceAfter) AS s, AVG(B.balanceAfter) AS a, "
        "MIN(B.balanceAfter) AS lo, MAX(B.balanceAfter) AS hi, "
        "COUNT(B.balanceAfter) AS n, COUNT(B.*) AS nr"
    )
    [row] = match_recognize(df, body, use_fast_path=False).collect()
    assert (row.s, row.a, row.lo, row.hi) == (None, None, None, None)
    assert (row.n, row.nr) == (0, 0)


def test_count_col_skips_nulls_count_star_does_not(spark):
    """COUNT(B.col) counts non-null values; COUNT(B.*) counts rows.
    The NULL sits in a measured-only column so the DEFINE predicates
    (which a NULL would fail) are unaffected."""
    df = spark.createDataFrame(
        [
            ("k1", _t(0), 1, 13.0, 9.0, 1.0),
            ("k1", _t(10), 2, 9.0, 5.0, None),  # B row, NULL score
            ("k1", _t(20), 3, 5.0, 4.0, 7.0),  # B row
            ("k1", _t(30), 4, 4.0, 20.0, 2.0),
        ],
        _SCHEMA + ", score double",
    )
    body = _abc_body(
        "COUNT(B.score) AS n_vals, COUNT(B.*) AS n_rows, "
        "SUM(B.score) AS s"
    )
    [row] = match_recognize(df, body, use_fast_path=False).collect()
    assert row.n_vals == 1
    assert row.n_rows == 2
    assert row.s == 7.0  # NULL ignored, per SQL


def test_classifier_and_match_number(spark):
    """CLASSIFIER() names the variable that matched the LAST row;
    MATCH_NUMBER() is the 1-based per-partition emission ordinal."""
    rows = []
    for k, base in (("k1", 0), ("k2", 0)):
        rows += [
            (k, _t(base + 0), 1, 13.0, 9.0),
            (k, _t(base + 10), 2, 9.0, 20.0),
            (k, _t(base + 20), 3, 20.0, 8.0),
            (k, _t(base + 30), 4, 8.0, 30.0),
        ]
    df = spark.createDataFrame(rows, _SCHEMA)
    body = _abc_body("CLASSIFIER() AS cls, MATCH_NUMBER() AS n")
    out = match_recognize(df, body, use_fast_path=False).collect()
    assert len(out) == 4  # two matches per key
    for r in out:
        assert r.cls == "C"
    per_key = sorted((r.id, r.n) for r in out)
    assert per_key == [("k1", 1), ("k1", 2), ("k2", 1), ("k2", 2)]


def test_subset_union_spans(spark):
    """SUBSET U = (A, C): measures over U see the union of A's and C's
    rows, ordered by row position."""
    df = spark.createDataFrame(
        [
            ("k1", _t(0), 1, 13.0, 9.0),
            ("k1", _t(10), 2, 9.0, 5.0),
            ("k1", _t(30), 3, 5.0, 20.0),
        ],
        _SCHEMA,
    )
    body = _abc_body(
        "FIRST(U.balanceAfter) AS uf, LAST(U.balanceAfter) AS ul, "
        "SUM(U.balanceAfter) AS us, COUNT(U.*) AS un",
        extra="SUBSET U = (A, C)",
    )
    [row] = match_recognize(df, body, use_fast_path=False).collect()
    assert (row.uf, row.ul, row.us, row.un) == (9.0, 20.0, 29.0, 2)


def test_final_prefix_accepted():
    spec = parse_match_recognize(
        _abc_body("FINAL SUM(B.balanceAfter) AS s, FINAL A.balanceAfter AS a")
    )
    assert [m.fn for m in spec.measures] == ["sum", "first"]


def test_aggregate_requires_strict_contiguity():
    with pytest.raises(ValueError, match="strict contiguity"):
        PatternSpec(
            variables=(
                PatternVar("A", "true"),
                PatternVar("B", "true", contiguity=RELAXED),
            ),
            measures=(Measure("s", "B", "x", "sum"),),
            after_match=SKIP_PAST_LAST_EVENT,
        ).validate()


def test_subset_validation():
    base = dict(
        variables=(PatternVar("A", "true"), PatternVar("B", "true")),
        after_match=SKIP_PAST_LAST_EVENT,
    )
    with pytest.raises(ValueError, match="collides"):
        PatternSpec(subsets=(("A", ("B",)),), **base).validate()
    with pytest.raises(ValueError, match="unknown var"):
        PatternSpec(subsets=(("U", ("Z",)),), **base).validate()
    # measures may reference a declared subset
    PatternSpec(
        subsets=(("U", ("A", "B")),),
        measures=(Measure("c", "U", "__count__", "count"),),
        **base,
    ).validate()


def test_streaming_measure_support_boundary(spark, tmp_path):
    """Aggregate MEASURES and SUBSET unions are streaming-supported
    since round 11 (incremental span accumulators + emission-time span
    merge — the end-to-end batch agreements live in
    tests/test_streaming_cep.py); PREV/NEXT navigation streams since
    round 13, emptying the measure-surface reject list."""
    import dataclasses

    from flink_cep_examples_spark.streaming.cep_stream import (
        match_pattern_stream,
    )

    schema_dir = tmp_path / "in"
    schema_dir.mkdir()
    stream = (
        spark.readStream.schema(_SCHEMA)
        .parquet(str(schema_dir))
    )

    def _spec(**build_kw):
        return (
            Pattern.begin("A", skip=SKIP_PAST_LAST_EVENT)
            .where("balanceBefore >= 10 AND balanceAfter < 10")
            .next("B")
            .one_or_more()
            .optional()
            .where("balanceBefore >= balanceAfter")
            .next("C")
            .where("balanceBefore < balanceAfter")
            .build(**build_kw)
        )

    # aggregates build a streaming plan now (round 11)
    out = match_pattern_stream(
        stream, _spec(measures=[Measure("s", "B", "balanceAfter", "sum")])
    )
    assert out.isStreaming
    # SUBSET builds a streaming plan too (round 11)
    subset_spec = dataclasses.replace(
        _spec(),
        measures=(Measure("c", "U", "__count__", "count"),),
        subsets=(("U", ("A", "C")),),
    )
    assert match_pattern_stream(stream, subset_spec).isStreaming
    # PREV/NEXT navigation streams since round 13 (the reject list is
    # EMPTY; gate rejects for out-of-dialect predicates are pinned in
    # tests/test_navigation.py::test_streaming_navigation_gate)
    nav_spec = dataclasses.replace(
        _spec(), nav_cols=(("__nav_0", "balanceAfter", 1, "prev"),)
    )
    assert match_pattern_stream(stream, nav_spec).isStreaming


def test_running_measures_all_rows(spark):
    """RUNNING clips measures to rows up to the current output row;
    FINAL repeats the whole-match value; RUNNING LAST tracks the most
    recent matched row of the variable so far (NULL before it)."""
    df = spark.createDataFrame(
        [
            ("k1", _t(0), 1, 13.0, 9.0),   # A
            ("k1", _t(10), 2, 9.0, 5.0),   # B
            ("k1", _t(20), 3, 5.0, 4.0),   # B
            ("k1", _t(30), 4, 4.0, 20.0),  # C
        ],
        _SCHEMA,
    )
    body = """
      PARTITION BY id ORDER BY event_time
      MEASURES
        RUNNING COUNT(B.*) AS nb_run,
        RUNNING SUM(B.balanceAfter) AS sb_run,
        RUNNING LAST(B.balanceAfter) AS lb_run,
        FINAL COUNT(B.*) AS nb_fin
      ALL ROWS PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B* C)
      DEFINE
        A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
        B AS B.balanceBefore >= B.balanceAfter,
        C AS C.balanceBefore < C.balanceAfter
    """
    rows = sorted(
        match_recognize(df, body).collect(), key=lambda r: r.seq
    )
    assert [(r.nb_run, r.sb_run, r.lb_run, r.nb_fin) for r in rows] == [
        (0, None, None, 2),   # A row: no B yet
        (1, 5.0, 5.0, 2),     # first B
        (2, 9.0, 4.0, 2),     # second B
        (2, 9.0, 4.0, 2),     # C row: running == final for B
    ]


def test_agg_measures_fast_path_matches_nfa(spark, sf_small):
    """Aggregate MEASURES + CLASSIFIER + MATCH_NUMBER on the A B* C
    shape through the tier table must equal the NFA reference on the
    real events-as-billing corpus, NULL-empty segments included."""
    import dataclasses

    from flink_cep_examples_spark.operators.cep_batch import match_pattern
    from flink_cep_examples_spark.operators.planner import run_pattern
    from flink_cep_examples_spark.plans.pattern import billing_pattern
    from flink_cep_examples_spark.sources.billing import events_as_billing

    spec = dataclasses.replace(
        billing_pattern(),
        measures=(
            Measure("alarm_dt", "A", "datetime", "first"),
            Measure("sum_b", "B", "balanceAfter", "sum"),
            Measure("avg_b", "B", "balanceAfter", "avg"),
            Measure("min_b", "B", "balanceAfter", "min"),
            Measure("n_b", "B", "balanceAfter", "count_col"),
            Measure("cls", "", "", "classifier"),
            Measure("mno", "", "", "match_number"),
        ),
    )
    df = events_as_billing(spark, sf_small)
    nfa_rows = sorted(map(tuple, match_pattern(df, spec).collect()))
    fast_rows = sorted(map(tuple, run_pattern(df, spec).collect()))
    assert nfa_rows and nfa_rows == fast_rows


def test_running_bare_column_measure(spark):
    """RUNNING B.price (bare VAR.col) must carry the running flag —
    rows before B's first row see NULL, later rows B's first value."""
    df = spark.createDataFrame(
        [
            ("k1", _t(0), 1, 13.0, 9.0),   # A
            ("k1", _t(10), 2, 9.0, 5.0),   # B
            ("k1", _t(30), 3, 5.0, 20.0),  # C
        ],
        _SCHEMA,
    )
    body = """
      PARTITION BY id ORDER BY event_time
      MEASURES RUNNING B.balanceAfter AS b_run
      ALL ROWS PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B* C)
      DEFINE
        A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
        B AS B.balanceBefore >= B.balanceAfter,
        C AS C.balanceBefore < C.balanceAfter
    """
    rows = sorted(match_recognize(df, body).collect(), key=lambda r: r.seq)
    assert [r.b_run for r in rows] == [None, 5.0, 5.0]


def test_abc_kernel_gate_non_complement_b(spark):
    """A B* C where B is NOT the complement of C (``B AS event_id % 4 =
    2``): a segment closed form pairing A with the next C would
    mis-match AND sum non-B rows (found by the streaming aggregate
    differential). The tier table must equal the NFA reference on the
    exact divergence strings, and on a true complement B."""
    import datetime as dt

    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES FIRST(A.ts) AS a_ts, SUM(B.value) AS sum_b,
             COUNT(B.value) AS n_b
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (A B* C) WITHIN INTERVAL '2' DAY
    DEFINE A AS event_id % 4 = 1,
           B AS event_id % 4 = 2,
           C AS event_id % 4 = 3
    """
    base = dt.datetime(2024, 1, 1)
    cls = {"a": 1, "b": 2, "c": 3, ".": 4}

    def df_of(classes):
        return spark.createDataFrame(
            [
                (1, base + dt.timedelta(minutes=i), cls[ch], float(i))
                for i, ch in enumerate(classes)
            ],
            "user_id long, ts timestamp, event_id long, value double",
        )

    for s in ("abac", "a.c", ".abacba.ccbba", "abacb", "abbc.abc"):
        df = df_of(s)
        fast = sorted(
            (r.a_ts.minute, r.sum_b, r.n_b)
            for r in match_recognize(
                df, body, tiebreak_col="event_id"
            ).collect()
        )
        nfa = sorted(
            (r.a_ts.minute, r.sum_b, r.n_b)
            for r in match_recognize(
                df, body, tiebreak_col="event_id", use_fast_path=False
            ).collect()
        )
        assert fast == nfa, s
    # a true complement B (≡ ¬C) with disjoint A/C
    comp_body = body.replace(
        "B AS event_id % 4 = 2", "B AS event_id % 4 <> 3"
    )
    df2 = df_of("abac")
    fast2 = sorted(
        (r.a_ts.minute, r.sum_b, r.n_b)
        for r in match_recognize(
            df2, comp_body, tiebreak_col="event_id"
        ).collect()
    )
    nfa2 = sorted(
        (r.a_ts.minute, r.sum_b, r.n_b)
        for r in match_recognize(
            df2, comp_body, tiebreak_col="event_id", use_fast_path=False
        ).collect()
    )
    assert fast2 == nfa2 == [(0, 3.0, 2)]


_INT_AGG_BODY = """
PARTITION BY k ORDER BY ts
MEASURES SUM(A.v) AS sa, MIN(U.v) AS lo, MAX(D.v) AS hi, AVG(C.v) AS av,
         COUNT(U.v) AS n, SUM(U.v) AS su
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN {pattern}
SUBSET U = (A, D)
DEFINE A AS p = 1, B AS p = 2, C AS p = 3, D AS p = 4
"""


@pytest.mark.parametrize(
    "pattern", ["((A B | C D)+)", "(A (C D)+ B)"], ids=["classified", "strided"]
)
def test_integer_aggregates_equal_numpy_reduction(pattern):
    """FINAL aggregates over an integer source with classified (branch
    group) or strided (loop group) rows take one Python pass per match
    (operators/cep_batch.py::_int_aggregate); over the same values as
    float64 they take the numpy reduction. Both must agree on every NFA
    match of random rows, SUBSET unions included."""
    import numpy as np

    from flink_cep_examples_spark.operators import cep_batch

    spec = parse_match_recognize(_INT_AGG_BODY.format(pattern=pattern))
    match = cep_batch.nfa_matcher(spec)
    rng = np.random.default_rng(7)
    n, checked = 60, 0
    chunks = [(1,), (2,), (3, 4), (3, 4), (1, 2), (1, 3, 4), (3, 4, 2), (0,)]
    for _ in range(100):
        # row classes in chunks, so that groups iterate several times
        p = np.concatenate(
            [chunks[i] for i in rng.integers(0, len(chunks), n)]
        )[:n]
        preds = np.stack(
            [p == int(e.split("=")[1]) for e in spec.pred_exprs]
        )
        matches, _, _ = match(preds, np.arange(n, dtype=np.int64))
        v = rng.integers(-50, 50, n)
        ints, floats = (
            cep_batch._make_measure_eval(
                spec.measures, spec.subsets, {"v": arr},
                {"v": np.zeros(n, dtype=bool)},
                loop_stride=cep_batch._loop_strides(spec),
                classify=cep_batch._classify_preds(spec, preds),
            )
            for arr in (v, v.astype(np.float64))
        )
        for m in matches:
            assert [f(m, 1) for _, f in ints] == [f(m, 1) for _, f in floats]
            checked += 1
    assert checked > 100
