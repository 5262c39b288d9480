"""The streaming operator's event-time frontier F = max(watermark,
m − delay), where m is the largest event time among a bucket's live
rows, floored to the millisecond. The per-bucket ``process`` of
``match_pattern_stream`` is captured at build time and called with a
hand-made ``GroupState``: no streaming query runs."""

from __future__ import annotations

import datetime as dt
import math
import pickle

import pandas as pd
import pytest

from pyspark.sql.group import GroupedData
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_cep_examples_spark.plans.pattern import billing_pattern
from flink_cep_examples_spark.schemas import MATCH_TAG
from flink_cep_examples_spark.streaming import cep_stream
from flink_cep_examples_spark.streaming.cep_stream import match_pattern_stream

T0 = dt.datetime(2020, 5, 1, 10, 0)
SPEC = billing_pattern(emit_timeouts=True)
SCHEMA = (
    "id {key}, event_time timestamp, seq long, balanceBefore double, "
    "balanceAfter double, datetime string"
)


def _ms(t: dt.datetime) -> int:
    return (t - dt.datetime(1970, 1, 1)) // dt.timedelta(milliseconds=1)


def _frame(spark, rows, key="string"):
    """Billing rows ``(id, event_time, balanceBefore, balanceAfter)``;
    arrival order is the tiebreak."""
    return spark.createDataFrame(
        [(k, t, i, b, a, t.isoformat(sep=" ")) for i, (k, t, b, a) in enumerate(rows)],
        SCHEMA.format(key=key),
    )


def _stream(spark, tmp_path, key="string"):
    """An (empty) streaming source of billing rows."""
    return spark.readStream.schema(SCHEMA.format(key=key)).parquet(str(tmp_path))


def _capture(monkeypatch, df, delay="6 minutes"):
    """``match_pattern_stream``'s per-bucket function for ``df``."""
    got = {}

    def fake(self, func, **kwargs):
        got["process"] = func

    monkeypatch.setattr(GroupedData, "applyInPandasWithState", fake)
    match_pattern_stream(df, SPEC, delay)
    return got["process"]


def _state(wm: dt.datetime | int, blob: bytes | None = None, timed_out=False):
    return GroupState(
        optionalValue=None if blob is None else (blob,),
        batchProcessingTimeMs=0,
        eventTimeWatermarkMs=wm if isinstance(wm, int) else _ms(wm),
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
        hasTimedOut=timed_out,
        watermarkPresent=True,
        defined=blob is not None,
        updated=False,
        removed=False,
        timeoutTimestamp=-1,
        keyAsUnsafe=b"",
        valueSchema=cep_stream._STATE_SCHEMA,
    )


def _call(process, state, pdf=None):
    """Run one invocation; returns (output rows, buffered event times)."""
    out = list(process((0,), iter([] if pdf is None else [pdf]), state))
    got = pd.concat(out, ignore_index=True) if out else pd.DataFrame()
    buffered = []
    if state.exists:
        buffer = pickle.loads(state.get[0])[0]
        if buffer is not None:
            buffered = sorted(buffer[cep_stream._TS_COL].tolist())
    return got, buffered


def _input(spark, rows, key="string"):
    """The rows as the operator's input frame (predicates evaluated,
    event time in µs)."""
    df = _frame(spark, rows, key)
    return cep_stream._prepare_stream(
        df, SPEC, flags=cep_stream.float_key_flags(df, ["id"])
    ).toPandas()


def _us(t: dt.datetime) -> int:
    return (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


MIN = dt.timedelta(minutes=1)
MS = dt.timedelta(milliseconds=1)
US = dt.timedelta(microseconds=1)


def _alarm_topup(topup: dt.datetime, last: dt.datetime):
    """Key 1: alarm at T0, top-up at ``topup``; key 2: one plain row at
    ``last``, the bucket's largest event time."""
    return [
        ("1", T0, 50.0, 5.0),
        ("1", topup, 5.0, 40.0),
        ("2", last, 50.0, 50.0),
    ]


def test_released_in_the_same_invocation_once_m_minus_delay_reaches_it(
    spark, monkeypatch, tmp_path
):
    """The top-up sits exactly at F = 10:16 − 6 min: it is released and
    the match emitted in the invocation that brought the rows, while
    the watermark is still at the epoch."""
    rows = _alarm_topup(T0 + 10 * MIN, T0 + 16 * MIN)
    process = _capture(monkeypatch, _stream(spark, tmp_path))
    state = _state(0)
    got, buffered = _call(process, state, _input(spark, rows))
    assert got[["id", "alarmTriggerDatetime", "tag"]].values.tolist() == [
        ["1", "2020-05-01 10:00:00", MATCH_TAG]
    ]
    assert got["topupDatetime"].tolist() == ["2020-05-01 10:10:00"]
    assert buffered == [_us(T0 + 16 * MIN)]


def test_nothing_above_the_frontier_is_released(spark, monkeypatch, tmp_path):
    """A top-up 1 ms above F stays buffered, and its timeout fires once
    the watermark reaches it: Spark fires timeout T when the watermark
    passes T ms, and a timed-out call releases by the watermark."""
    topup = T0 + 10 * MIN + MS
    rows = _alarm_topup(topup, T0 + 16 * MIN)
    process = _capture(monkeypatch, _stream(spark, tmp_path))
    state = _state(0)
    got, buffered = _call(process, state, _input(spark, rows))
    assert got.empty
    assert buffered == [_us(topup), _us(T0 + 16 * MIN)]
    timeout = state._timeout_timestamp
    assert timeout < _ms(topup) and not timeout < _ms(topup) - 1

    # the watermark one ms short of the top-up: nothing to release
    short = _state(_ms(topup) - 1, state.get[0], timed_out=True)
    got, buffered = _call(process, short)
    assert got.empty and buffered == [_us(topup), _us(T0 + 16 * MIN)]
    # the timed-out call at the watermark: the bucket's rows say nothing
    # new about the future, so the clock is the watermark itself
    fired = _state(_ms(topup), state.get[0], timed_out=True)
    got, buffered = _call(process, fired)
    assert got["topupDatetime"].tolist() == ["2020-05-01 10:10:00.001000"]
    assert buffered == [_us(T0 + 16 * MIN)]


def test_sub_millisecond_maximum_floors_to_the_millisecond(spark, monkeypatch, tmp_path):
    """m = 10:16:00.000999 counts as 10:16:00.000, as Spark floors event
    times to the ms for the watermark: F = 10:10:00.000000, so a top-up
    500 µs above it stays buffered."""
    topup = T0 + 10 * MIN + 500 * US
    last = T0 + 16 * MIN + 999 * US
    rows = _alarm_topup(topup, last)
    process = _capture(monkeypatch, _stream(spark, tmp_path))
    state = _state(0)
    got, buffered = _call(process, state, _input(spark, rows))
    assert got.empty
    assert buffered == [_us(topup), _us(last)]
    # m at 10:16:00.001 puts F at the top-up's ms and releases it
    rows = _alarm_topup(topup, T0 + 16 * MIN + MS)
    state = _state(0)
    got, _ = _call(process, state, _input(spark, rows))
    assert got["tag"].tolist() == [MATCH_TAG]


def test_within_deadline_fires_on_the_frontier(spark, monkeypatch, tmp_path):
    """An alarm with no top-up times out in the invocation whose rows
    put F at alarm + 1 h; its timer is the deadline itself."""
    rows = [("1", T0, 50.0, 5.0), ("2", T0 + 66 * MIN - MS, 50.0, 50.0)]
    process = _capture(monkeypatch, _stream(spark, tmp_path))
    state = _state(0)
    got, _ = _call(process, state, _input(spark, rows))
    assert got.empty
    # the deadline is 11:00:00.000: the timer fires once the watermark
    # is there
    assert state._timeout_timestamp == _ms(T0 + 60 * MIN) - 1
    rows = [("1", T0, 50.0, 5.0), ("2", T0 + 66 * MIN, 50.0, 50.0)]
    state = _state(0)
    got, _ = _call(process, state, _input(spark, rows))
    assert got[["id", "tag"]].values.tolist() == [["1", "timeout"]]


def test_other_watermark_falls_back_to_the_watermark(spark, monkeypatch, tmp_path):
    """With a second watermark in the plan Spark's watermark is the
    minimum of the two, so the operator's clock stays the watermark."""
    rows = _alarm_topup(T0 + 10 * MIN, T0 + 16 * MIN)
    src = _stream(spark, tmp_path)
    process = _capture(monkeypatch, src.withWatermark("event_time", "1 hour"))
    state = _state(0)
    got, buffered = _call(process, state, _input(spark, rows))
    assert got.empty and len(buffered) == 3
    assert cep_stream._frontier_delay_ms(
        src.withWatermark("event_time", "1 day 500 milliseconds")
    ) == 86_400_500


def test_null_and_nan_float_keys_are_two_keys(spark, monkeypatch, tmp_path):
    """One alarm → top-up pair under a NULL ``double`` key and one under
    NaN: pandas reads both as NaN, and NaN ≠ NaN, yet each pair is one
    key's match, and the NaN key goes out as NaN, not NULL."""
    rows = [
        (None, T0, 50.0, 5.0),
        (math.nan, T0 + MIN, 50.0, 5.0),
        (None, T0 + 2 * MIN, 5.0, 40.0),
        (math.nan, T0 + 3 * MIN, 5.0, 40.0),
        (1.5, T0 + 20 * MIN, 50.0, 50.0),
    ]
    process = _capture(monkeypatch, _stream(spark, tmp_path, "double"))
    state = _state(0)
    got, _ = _call(process, state, _input(spark, rows, "double"))
    assert got["tag"].tolist() == [MATCH_TAG, MATCH_TAG]
    assert str(got["id"].dtype) == "Float64"
    assert sorted(
        ("NULL" if k is pd.NA else "NaN", a)
        for k, a in zip(got["id"].astype(object), got["alarmTriggerDatetime"])
    ) == [("NULL", "2020-05-01 10:00:00"), ("NaN", "2020-05-01 10:01:00")]
