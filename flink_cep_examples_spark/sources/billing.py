"""Billing-event sources.

Covers the reference's source surface (SURVEY §2.1):
- text-file CSV source (``env.readTextFile`` + positional parse,
  FlinkCEPExample.scala:50-52, events/BillingEvent.scala:11-18)
  → ``spark.read.csv`` with an explicit schema (batch) or
  ``spark.readStream`` file source (streaming);
- in-memory collection source (``env.fromCollection``,
  FlinkProcessFunctionExample.scala:95-100) → ``spark.createDataFrame``;
- event-time derivation: parse ``datetime`` (``yyyy-MM-dd HH:mm:ss``) at
  UTC to a timestamp column (FlinkCEPExample.scala:32-37).
- mapping of the driver's synthetic ``events`` table onto the billing
  shape (FIXTURES.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cep_examples_spark.operators.partition_scan import scan_order_sql
from flink_cep_examples_spark.schemas import BILLING_DATETIME_FORMAT, BILLING_SCHEMA

#: Name of the derived event-time column added by :func:`with_event_time`.
EVENT_TIME_COL = "event_time"

#: Stable per-row tiebreak for same-timestamp events within a key
#: (SURVEY §7 known-hard #4: deterministic ORDER BY ties). For CSV input
#: this is the input line order; for the events table it's ``event_id``.
SEQ_COL = "seq"


def with_event_time(df: DataFrame, datetime_col: str = "datetime") -> DataFrame:
    """Derive ``event_time: timestamp`` from the string datetime column.

    Equivalent to the reference's
    ``LocalDateTime.parse(...).toEpochSecond(UTC) * 1000``
    (FlinkCEPExample.scala:32-37): the session timezone is pinned to UTC
    by the session factory, so ``to_timestamp`` yields the same instants.
    """
    return df.withColumn(
        EVENT_TIME_COL, F.to_timestamp(F.col(datetime_col), BILLING_DATETIME_FORMAT)
    )


def read_billing_csv(spark: SparkSession, path: str) -> DataFrame:
    """Batch CSV source: headerless positional CSV → typed billing rows.

    Adds ``event_time`` and a monotonically increasing ``seq`` tiebreak.
    ``seq`` values are unique but not dense — only their relative order
    within a file split matters, matching the reference's
    read-order-as-tiebreak behavior on a single file.
    """
    df = spark.read.csv(path, schema=BILLING_SCHEMA, header=False)
    df = df.withColumn(SEQ_COL, F.monotonically_increasing_id())
    return with_event_time(df)


def read_billing_csv_stream(spark: SparkSession, directory: str) -> DataFrame:
    """Streaming file source over a directory of billing CSVs.

    Tiebreak deviation (documented): ``monotonically_increasing_id`` is
    unsupported in streaming and the file source exposes no per-row
    offset, so ``seq`` is a content hash salted with the source file
    path. Consequences: (a) two *identical* duplicate rows in one file
    collapse to the same seq — their relative order against other
    equal-timestamp rows is arbitrary; (b) distinct same-timestamp
    events order by hash value, not read order, so streaming results
    can differ from the batch/reference read-order tiebreak when a key
    has several events at one timestamp. Ordering across timestamps —
    the semantics the CEP operators depend on — is unaffected.
    """
    df = spark.readStream.schema(BILLING_SCHEMA).csv(directory, header=False)
    df = df.withColumn(
        SEQ_COL,
        F.xxhash64(
            F.col("_metadata.file_path"),
            "id",
            "datetime",
            "balanceBefore",
            "balanceAfter",
        ),
    )
    return with_event_time(df).drop("_metadata")


def billing_from_rows(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """In-memory collection source (reference ``env.fromCollection``,
    FlinkProcessFunctionExample.scala:95-100).

    ``rows`` are ``(id, datetime, balanceBefore, balanceAfter)`` tuples in
    arrival order; arrival order becomes the ``seq`` tiebreak.
    """
    seq_rows = [(i, *r) for i, r in enumerate(rows)]
    df = spark.createDataFrame(
        seq_rows, schema=f"{SEQ_COL} long, " + ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in BILLING_SCHEMA.fields
        )
    )
    return with_event_time(df)


def events_as_billing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver's synthetic ``events`` table onto the billing shape
    (FIXTURES.md §4): key → ``id``, ``ts`` → ``event_time``, and a
    deterministic balance walk per user so the CEP predicates
    (alarm / non-increasing / top-up) all fire:

    - ``balanceAfter``  = the event's ``value`` column
    - ``balanceBefore`` = previous event's ``value`` for the user
      (50.0 for the first event)

    "Previous" is the scan order of every CEP tier
    (operators/partition_scan.py::scan_order): ascending ``event_time``,
    then ``seq``, NULLs last, so a row with a NULL ``ts`` comes after the
    user's timed rows and never feeds the first of them. Values are kept
    as doubles; the CEP predicates only compare, so long-vs-double does
    not change semantics. ``event_id`` is the tiebreak (unique per
    event).

    The ``datetime`` string (a measure source only) is formatted after
    the balance window, so it runs in the post-shuffle tasks and is not
    shuffled.
    """
    from flink_cep_examples_spark.sources.tables import events_ts_sql, read_table

    ev, schema = read_table(spark, sf_dir, "events")
    # Project the string key FIRST, then window over the projected
    # attribute: downstream pattern matching partitions by ``id`` and
    # sorts by the window's own order, and referencing the same
    # attributes here lets Catalyst satisfy both stages with ONE hash
    # Exchange and ONE Sort (cast is bijective on integers, so keying by
    # the string changes nothing; verified by
    # tests/test_plans.py::test_cep_match_single_exchange).
    base = ev.selectExpr(
        "CAST(user_id AS STRING) AS id",
        f"{events_ts_sql(schema)} AS {EVENT_TIME_COL}",
        f"event_id AS {SEQ_COL}",
        "value",
    )
    order = scan_order_sql(EVENT_TIME_COL, SEQ_COL)
    billing = base.selectExpr(
        "id",
        EVENT_TIME_COL,
        SEQ_COL,
        f"COALESCE(LAG(value) OVER (PARTITION BY id ORDER BY {order}), 50.0D)"
        " AS balanceBefore",
        "value AS balanceAfter",
    )
    return billing.selectExpr(
        "*", f"date_format({EVENT_TIME_COL}, 'yyyy-MM-dd HH:mm:ss') AS datetime"
    )
