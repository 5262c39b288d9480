"""The staging from parquet to the Python scan: the billing source's
balance window and every Python tier order a key's rows alike (NULL
timestamps last, full µs precision), float measures keep NaN apart from
NULL, and a query build stays within a bounded number of py4j round
trips."""

from __future__ import annotations

import dataclasses
import datetime
import math
import threading
from contextlib import contextmanager

import pytest

from flink_cep_examples_spark.operators.cep_batch import match_pattern
from flink_cep_examples_spark.plans.pattern import Measure, Pattern
from flink_cep_examples_spark.queries import ORACLES, QUERIES, load_all

from tests.fixtures import write_events

load_all()

#: the four ``history`` queries of the benchmark
HISTORY_QUERIES = [
    "cep_match_recognize",
    "cep_alerts_with_timeouts",
    "cep_alerts_with_timeouts_nfa",
    "cep_keyed_process",
]


def _oracle_rows(sf_dir: str, oracle: str, cols) -> list:
    """The oracle's rows over ``sf_dir``'s events, in ``cols`` order,
    sorted by ``repr`` (a timed-out alarm with a NULL ``ts`` has a NULL
    datetime)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
        rows = con.execute(f"SELECT {', '.join(cols)} FROM ({oracle})").fetchall()
    finally:
        con.close()
    return sorted(rows, key=repr)


@pytest.mark.parametrize(
    "name",
    [
        "cep_alert_reactions",
        "cep_alert_reactions_nfa",
        "cep_match_recognize",
        "cep_alerts_with_timeouts",
        "cep_alerts_with_timeouts_nfa",
    ],
)
def test_null_timestamp_does_not_feed_the_first_balance(spark, tmp_path, name):
    """User 7's row with a NULL ``ts`` sorts after its timed rows, as in
    the scan and the oracles, so the 10:00 alarm reads balanceBefore 50
    (not the NULL row's 5) and pairs with the 10:10 top-up."""
    sf = write_events(
        tmp_path,
        [
            (1, None, 7, 5.0),  # NULL ts: last in the scan
            (2, 0, 7, 8.0),  # alarm 50 -> 8
            (3, 10, 7, 40.0),  # top-up 8 -> 40
        ],
    )
    out = QUERIES[name](spark, sf)
    got = sorted(map(tuple, out.collect()), key=repr)
    assert ("7", "2020-05-01 10:00:00", "2020-05-01 10:10:00") in [
        r[:3] for r in got
    ]
    assert got == _oracle_rows(sf, ORACLES[name], out.columns)


def test_keyed_process_scans_by_microsecond(spark, tmp_path):
    """An alarm and a top-up inside one millisecond, the top-up with the
    smaller ``event_id``: the keyed-process tier scans by the full µs
    timestamp (alarm first), as the balance window and the oracle do,
    while ``ctx.timestamp`` stays in ms."""
    from flink_cep_examples_spark.queries.cep import ORACLE_KEYED_PROCESS

    us = datetime.timedelta(microseconds=1)
    sf = write_events(
        tmp_path,
        [
            (1, 900 * us, 1, 40.0),  # top-up 5 -> 40, at 10:00:00.000900
            (2, 100 * us, 1, 5.0),  # alarm 50 -> 5, at 10:00:00.000100
        ],
    )
    out = QUERIES["cep_keyed_process"](spark, sf)
    got = sorted(map(tuple, out.collect()), key=repr)
    assert got == [("1", "2020-05-01 10:00:00", "2020-05-01 10:00:00")]
    assert got == _oracle_rows(sf, ORACLE_KEYED_PROCESS, out.columns)


def _nan_frame(spark):
    t0 = datetime.datetime(2020, 5, 1, 10, 0)
    return spark.createDataFrame(
        [
            ("k", t0, 0, math.nan),
            ("k", t0 + datetime.timedelta(minutes=1), 1, None),
            ("k", t0 + datetime.timedelta(minutes=2), 2, 1.5),
        ],
        "id string, event_time timestamp, seq long, v double",
    )


def _kind(v):
    return "NULL" if v is None else "NaN" if math.isnan(v) else v


def test_nan_measure_stays_nan_one_row(spark):
    """``FIRST(A.v)`` and ``LAST(A.v)`` over v = NaN, NULL, 1.5 (one
    match per row): NaN comes back NaN and NULL comes back NULL."""
    spec = Pattern.begin("A").where("seq >= 0").build(
        measures=(
            Measure("fv", "A", "v", "first"),
            Measure("lv", "A", "v", "last"),
        ),
    )
    rows = match_pattern(_nan_frame(spark), spec).collect()
    got = sorted(((_kind(r.fv), _kind(r.lv)) for r in rows), key=repr)
    assert got == sorted([("NaN", "NaN"), ("NULL", "NULL"), (1.5, 1.5)], key=repr)


def test_nan_measure_stays_nan_all_rows(spark):
    """ALL ROWS PER MATCH over the same rows, one match of ``A B C``:
    the input column ``v``, the FINAL ``FIRST(A.v)`` and ``LAST(B.v)``
    and the RUNNING ``LAST(C.v)`` each keep NaN apart from NULL."""
    spec = (
        Pattern.begin("A").where("seq = 0")
        .next("B").where("seq = 1")
        .next("C").where("seq = 2")
        .build(
            measures=(
                Measure("fa", "A", "v", "first"),
                Measure("lb", "B", "v", "last"),
                Measure("rc", "C", "v", "last", running=True),
            ),
        )
    )
    spec = dataclasses.replace(spec, rows_per_match="all")
    rows = match_pattern(_nan_frame(spark), spec).collect()
    got = sorted(
        (r.seq, _kind(r.v), _kind(r.fa), _kind(r.lb), _kind(r.rc)) for r in rows
    )
    assert got == [
        (0, "NaN", "NaN", "NULL", "NULL"),
        (1, "NULL", "NaN", "NULL", "NULL"),
        (2, 1.5, "NaN", "NULL", 1.5),
    ]


@contextmanager
def _round_trips(spark):
    """Count the py4j commands this thread sends; py4j's garbage
    collection sends from its own thread and is not counted."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    n = [0]

    def counting(*args, **kwargs):
        if threading.get_ident() == me:
            n[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        yield n
    finally:
        client.send_command = send


@pytest.mark.parametrize("name", HISTORY_QUERIES)
def test_query_build_round_trips(spark, sf_small, name):
    """Building a ``history`` query (not running it) makes at most 150
    py4j round trips: each staging step is one SQL projection, not a
    chain of per-column calls (each of which costs ~12-24 round trips
    with PySpark's call-site capture)."""
    QUERIES[name](spark, sf_small)  # warm: imports, parquet schema memo
    with _round_trips(spark) as n:
        QUERIES[name](spark, sf_small)
    assert 0 < n[0] <= 150, n[0]
