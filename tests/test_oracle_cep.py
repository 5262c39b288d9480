"""CEP queries vs DuckDB oracles on the driver's synthetic events table
(SURVEY §5 strategy #3). Spark's tiers — the NFA and the compiled
kernels the tier table picks — and DuckDB's closed form must agree
exactly."""

from __future__ import annotations

import pytest

from flink_cep_examples_spark.queries import QUERIES, ORACLES, load_all

from tests.fixtures import write_events
from tests.oracle_harness import compare

load_all()

CEP_QUERY_NAMES = [n for n in QUERIES if n.startswith("cep_")]


@pytest.mark.parametrize("name", CEP_QUERY_NAMES)
def test_cep_query_vs_oracle(spark, sf_small, name):
    ok, msg = compare(QUERIES[name](spark, sf_small), ORACLES[name], sf_small)
    assert ok, f"{name}: {msg}"


def _oracle_rows(sf_dir: str, oracle: str, cols) -> list:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
        )
        return sorted(
            con.execute(f"SELECT {', '.join(cols)} FROM ({oracle})").fetchall()
        )
    finally:
        con.close()


def test_keyed_process_oracle_on_timestamp_ties(spark, tmp_path):
    """Timestamp ties ordered by event_id: user 1's second alarm shares
    its timestamp with the top-up just before it, so the next top-up
    reacts to that alarm; user 2's alarm and top-up share one
    timestamp. The oracle must place events by (ts, event_id), not by
    timestamp alone."""
    from flink_cep_examples_spark.queries.cep import ORACLE_KEYED_PROCESS

    # (event_id, minute, user_id, value); balanceBefore = previous value
    sf = write_events(
        tmp_path,
        [
            (1, 0, 1, 5.0),  # alarm 50 -> 5
            (2, 5, 1, 20.0),  # top-up: emits (10:00, 10:05)
            (3, 5, 1, 3.0),  # alarm at the same timestamp as the top-up
            (4, 20, 1, 30.0),  # top-up: emits (10:05, 10:20)
            (5, 0, 2, 4.0),  # alarm
            (6, 0, 2, 40.0),  # top-up at the alarm's timestamp: emits
        ],
    )
    out = QUERIES["cep_keyed_process"](spark, sf)
    got = sorted(map(tuple, out.collect()))
    want = _oracle_rows(sf, ORACLE_KEYED_PROCESS, out.columns)
    assert got == [
        ("1", "2020-05-01 10:00:00", "2020-05-01 10:05:00"),
        ("1", "2020-05-01 10:05:00", "2020-05-01 10:20:00"),
        ("2", "2020-05-01 10:00:00", "2020-05-01 10:00:00"),
    ]
    assert want == got


#: user 1: match 0 is alarm, B, top-up with the B and the top-up at
#: 10:05; match 1 is an alarm and a top-up at that same 10:05
_TIED_MATCHES = [
    (1, 0, 1, 5.0),  # A 50 -> 5
    (2, 5, 1, 4.0),  # B 5 -> 4, tied with its C
    (3, 5, 1, 20.0),  # C 4 -> 20: closes match 0
    (4, 5, 1, 5.0),  # A 20 -> 5, tied with match 0's C
    (5, 5, 1, 30.0),  # C 5 -> 30: closes match 1 at the same timestamp
]


@pytest.mark.parametrize(
    "name",
    [
        "cep_match_recognize_all_rows",
        "cep_match_recognize_excl",
        "cep_running_measures",
        "cep_measure_aggregates",
        "cep_subset_measures",
    ],
)
def test_segment_oracles_on_timestamp_ties(spark, tmp_path, name):
    """A B row tied with its C, and two matches closing at one
    timestamp: the oracles must classify, rank and aggregate rows by
    (ts, event_id) position, as the engine does."""
    sf = write_events(tmp_path, _TIED_MATCHES)
    out = QUERIES[name](spark, sf)
    got = sorted(map(tuple, out.collect()))
    assert got == _oracle_rows(sf, ORACLES[name], out.columns)
    if name == "cep_match_recognize_all_rows":
        a0, t5 = "2020-05-01 10:00:00", "2020-05-01 10:05:00"
        assert got == [
            ("1", a0, "A", 0, a0, t5),
            ("1", t5, "A", 1, t5, t5),
            ("1", t5, "B", 0, a0, t5),
            ("1", t5, "C", 0, a0, t5),
            ("1", t5, "C", 1, t5, t5),
        ]
