"""NaN in batch aggregates and in float keys, on every batch tier.

Spark SQL treats NaN as a value and NULL as missing: SUM, AVG and MAX
over a NaN give NaN, COUNT counts it, and MIN ignores it unless it is
alone (NaN sorts above every number). The batch measures follow the
staged ``isnull`` flags, so ONE ROW, ALL ROWS FINAL and ALL ROWS RUNNING
aggregates agree with Spark's own aggregates and windows over the same
values, and a RUNNING value on a match's last row is the FINAL one. A
NaN float key comes back NaN, apart from the NULL key."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from flink_cep_examples_spark.operators.planner import run_pattern
from flink_cep_examples_spark.sql.match_recognize import parse_match_recognize

NAN = float("nan")
_T0 = datetime(2024, 1, 1)
_AGGS = ("sum", "min", "max", "avg", "count")


def _frame(spark, rows, key="long"):
    """rows: (key, p, v) in scan order, one minute apart."""
    return spark.createDataFrame(
        [
            (k, _T0 + timedelta(minutes=i), i, p, v)
            for i, (k, p, v) in enumerate(rows)
        ],
        f"k {key}, ts timestamp, seq long, p long, v double",
    )


def _spark_aggs(spark, values):
    """Spark SQL's SUM, MIN, MAX, AVG, COUNT over ``values``."""
    df = spark.createDataFrame([(v,) for v in values], "v double")
    return tuple(df.agg(*[getattr(F, f)("v") for f in _AGGS]).first())


def _same(a, b) -> bool:
    return repr(tuple(a)) == repr(tuple(b))


_ONE_ROW = """
PARTITION BY k ORDER BY ts, seq
MEASURES SUM({v}.v) AS s, MIN({v}.v) AS lo, MAX({v}.v) AS hi,
         AVG({v}.v) AS av, COUNT({v}.v) AS n
ONE ROW PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ({pattern})
DEFINE A AS p = 1, B AS p = 2
"""


@pytest.mark.parametrize("fast", [True, False], ids=["tiers", "nfa"])
@pytest.mark.parametrize(
    "pattern, var, values",
    [
        ("A B", "A", [NAN, 2.0]),  # the probe: v = NaN, 2.0, A.v
        ("A B{3}", "B", [1.0, NAN, None, 2.0]),
        ("A B{2}", "B", [1.0, None, None]),  # all NULL: NULLs, COUNT 0
    ],
    ids=["nan_alone", "nan_null_numbers", "all_null"],
)
def test_one_row_aggregates_follow_spark(spark, fast, pattern, var, values):
    rows = [(1, 1 if i == 0 else 2, v) for i, v in enumerate(values)]
    spec = parse_match_recognize(_ONE_ROW.format(v=var, pattern=pattern))
    out = run_pattern(_frame(spark, rows), spec, use_fast_path=fast)
    got = out.select("s", "lo", "hi", "av", "n").collect()
    want = _spark_aggs(spark, values[:1] if var == "A" else values[1:])
    assert len(got) == 1 and _same(got[0], want), (got, want)


_ALL_ROWS = """
PARTITION BY k ORDER BY ts, seq
MEASURES RUNNING SUM(Y.v) AS rs, RUNNING MIN(Y.v) AS rlo,
         RUNNING MAX(Y.v) AS rhi, RUNNING AVG(Y.v) AS rav,
         RUNNING COUNT(Y.v) AS rn,
         FINAL SUM(Y.v) AS fs, FINAL MIN(Y.v) AS flo,
         FINAL MAX(Y.v) AS fhi, FINAL AVG(Y.v) AS fav,
         FINAL COUNT(Y.v) AS fn
ALL ROWS PER MATCH
AFTER MATCH SKIP PAST LAST ROW
PATTERN ((X Y)+)
DEFINE X AS p = 1, Y AS p = 2
"""


@pytest.mark.parametrize("fast", [True, False], ids=["tiers", "nfa"])
def test_all_rows_running_and_final_follow_spark(spark, fast):
    """One match (X Y)x4 whose Y values are NaN, 2.0, NULL, 1.0: each Y
    row's RUNNING aggregates equal Spark's cumulative window over the Y
    values so far, every row's FINAL ones equal Spark's aggregates over
    all four, and the last row's RUNNING values are the FINAL ones."""
    ys = [NAN, 2.0, None, 1.0]
    rows = [r for y in ys for r in ((1, 1, 0.0), (1, 2, y))]
    spec = parse_match_recognize(_ALL_ROWS)
    out = run_pattern(_frame(spark, rows), spec, use_fast_path=fast)
    got = out.orderBy("seq").collect()
    assert [r["classifier"] for r in got] == ["X", "Y"] * 4
    final = _spark_aggs(spark, ys)
    ydf = spark.createDataFrame(list(enumerate(ys)), "i long, v double")
    w = "OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    running = ydf.selectExpr(
        "i", *[f"{f}(v) {w} AS {f}" for f in _AGGS]
    ).orderBy("i").collect()
    for r in got:
        assert _same([r[c] for c in ("fs", "flo", "fhi", "fav", "fn")], final)
    for r, want in zip(got[1::2], running):
        assert _same(
            [r[c] for c in ("rs", "rlo", "rhi", "rav", "rn")], want[1:]
        ), (r, want)
    assert _same(
        [got[-1][c] for c in ("rs", "rlo", "rhi", "rav", "rn")],
        [got[-1][c] for c in ("fs", "flo", "fhi", "fav", "fn")],
    )


def test_nan_and_null_float_keys_stay_apart(spark):
    """``(X Y)+`` SKIP PAST LAST ROW keyed on a ``double`` with keys NaN,
    NULL and 1.0, two rows (X, Y) each: one match per key, the NaN key
    reported as NaN, as the NFA and Spark's own grouping report it."""
    rows = [
        (k, p, 0.0) for k in (NAN, None, 1.0) for p in (1, 2)
    ]
    df = _frame(spark, rows, key="double")
    spec = parse_match_recognize("""
        PARTITION BY k ORDER BY ts, seq
        MEASURES COUNT(X.*) AS n
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN ((X Y)+)
        DEFINE X AS p = 1, Y AS p = 2
    """)
    grouped = sorted(repr(r["k"]) for r in df.groupBy("k").count().collect())
    for fast in (True, False):
        out = run_pattern(df, spec, use_fast_path=fast).collect()
        assert sorted(repr(r["k"]) for r in out) == grouped, fast
        assert [r["n"] for r in out] == [1, 1, 1]
