"""CEP queries vs DuckDB oracles on the driver's synthetic events table
(SURVEY §5 strategy #3). Three independent implementations — Spark NFA,
Spark window fast path, DuckDB closed form — must agree exactly."""

from __future__ import annotations

import pytest

from flink_cep_examples_spark.queries import QUERIES, ORACLES, load_all

from tests.oracle_harness import compare

load_all()

CEP_QUERY_NAMES = [n for n in QUERIES if n.startswith("cep_")]


@pytest.mark.parametrize("name", CEP_QUERY_NAMES)
def test_cep_query_vs_oracle(spark, sf_small, name):
    ok, msg = compare(QUERIES[name](spark, sf_small), ORACLES[name], sf_small)
    assert ok, f"{name}: {msg}"


def test_keyed_process_oracle_on_timestamp_ties(spark, tmp_path):
    """Timestamp ties ordered by event_id: user 1's second alarm shares
    its timestamp with the top-up just before it, so the next top-up
    reacts to that alarm; user 2's alarm and top-up share one
    timestamp. The oracle must place events by (ts, event_id), not by
    timestamp alone."""
    import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_cep_examples_spark.queries.cep import ORACLE_KEYED_PROCESS

    t0 = datetime.datetime(2020, 5, 1, 10, 0)
    minutes = datetime.timedelta(minutes=1)
    # (event_id, minute, user_id, value); balanceBefore = previous value
    events = [
        (1, 0, 1, 5.0),  # alarm 50 -> 5
        (2, 5, 1, 20.0),  # top-up: emits (10:00, 10:05)
        (3, 5, 1, 3.0),  # alarm at the same timestamp as the top-up
        (4, 20, 1, 30.0),  # top-up: emits (10:05, 10:20)
        (5, 0, 2, 4.0),  # alarm
        (6, 0, 2, 40.0),  # top-up at the alarm's timestamp: emits
    ]
    table = pa.table(
        {
            "event_id": pa.array([e[0] for e in events], pa.int64()),
            "ts": pa.array([t0 + e[1] * minutes for e in events], pa.timestamp("us")),
            "user_id": pa.array([e[2] for e in events], pa.int64()),
            "event_type": pa.array(["x"] * len(events)),
            "value": pa.array([e[3] for e in events], pa.float64()),
            "props": pa.array(["{}"] * len(events)),
        }
    )
    pq.write_table(table, tmp_path / "events.parquet")

    out = QUERIES["cep_keyed_process"](spark, str(tmp_path))
    got = sorted(map(tuple, out.collect()))
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
        )
        cols = ", ".join(out.columns)
        want = sorted(
            con.execute(f"SELECT {cols} FROM ({ORACLE_KEYED_PROCESS})").fetchall()
        )
    finally:
        con.close()
    assert got == [
        ("1", "2020-05-01 10:00:00", "2020-05-01 10:05:00"),
        ("1", "2020-05-01 10:05:00", "2020-05-01 10:20:00"),
        ("2", "2020-05-01 10:00:00", "2020-05-01 10:00:00"),
    ]
    assert want == got
