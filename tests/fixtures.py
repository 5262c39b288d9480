"""Golden fixtures — data (not code) from the reference's test resources.

Input rows: src/test/resources/input-data.csv:1-7
Expected matches: src/test/resources/expected-output.csv:1
Expected timeouts (side output): src/test/resources/expected-side-output.csv:1

7 events over 2 keys: key "2" completes A B B C within 40 minutes →
match; key "1" has A then B with the candidate top-up 2.5 h later →
partial times out → absence alert with empty topupDatetime.
"""

GOLDEN_INPUT_ROWS = [
    ("1", "2020-05-01 11:00:00", 13, 9),
    ("2", "2020-05-01 11:00:00", 11, 6),
    ("2", "2020-05-01 11:15:00", 6, 4),
    ("2", "2020-05-01 11:30:00", 4, 3),
    ("2", "2020-05-01 11:40:00", 3, 23),
    ("1", "2020-05-01 11:45:00", 9, 5),
    ("1", "2020-05-01 13:30:00", 5, 25),
]

EXPECTED_MATCHES = [("2", "2020-05-01 11:00:00", "2020-05-01 11:40:00")]
EXPECTED_TIMEOUTS = [("1", "2020-05-01 11:00:00", "")]

GOLDEN_INPUT_CSV = "\n".join(",".join(map(str, r)) for r in GOLDEN_INPUT_ROWS) + "\n"


def write_events(path, events) -> str:
    """Write ``events`` — (event_id, minute from 10:00, user_id, value)
    rows — as ``path/events.parquet`` in the driver's events schema and
    return ``path`` as an sf_dir. The minute may also be a timedelta
    from 10:00, or None for a NULL ``ts``. events_as_billing reads a
    user's previous value as balanceBefore (50 for the first)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = datetime.datetime(2020, 5, 1, 10, 0)

    def ts(m):
        if m is None:
            return None
        if not isinstance(m, datetime.timedelta):
            m = datetime.timedelta(minutes=m)
        return t0 + m

    table = pa.table(
        {
            "event_id": pa.array([e[0] for e in events], pa.int64()),
            "ts": pa.array([ts(e[1]) for e in events], pa.timestamp("us")),
            "user_id": pa.array([e[2] for e in events], pa.int64()),
            "event_type": pa.array(["x"] * len(events)),
            "value": pa.array([e[3] for e in events], pa.float64()),
            "props": pa.array(["{}"] * len(events)),
        }
    )
    pq.write_table(table, path / "events.parquet")
    return str(path)
