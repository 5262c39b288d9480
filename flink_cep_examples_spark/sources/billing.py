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

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

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

    Values are kept as doubles; the CEP predicates only compare, so
    long-vs-double does not change semantics. ``event_id`` is the
    tiebreak (unique, driver-generated).
    """
    from flink_cep_examples_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    # Project the string key FIRST, then window over the projected
    # attribute: downstream pattern matching partitions by ``id``, and
    # referencing the same attribute here lets Catalyst satisfy both
    # stages with ONE hash Exchange (cast is bijective on integers, so
    # keying by the string changes nothing; verified by
    # tests/test_plans.py::test_cep_match_single_exchange).
    base = ev.select(
        F.col("user_id").cast("string").alias("id"),
        F.col("ts").alias(EVENT_TIME_COL),
        F.col("event_id").alias(SEQ_COL),
        F.col("value"),
    )
    w = Window.partitionBy("id").orderBy(EVENT_TIME_COL, SEQ_COL)
    return base.select(
        "id",
        EVENT_TIME_COL,
        SEQ_COL,
        F.coalesce(F.lag("value").over(w), F.lit(50.0)).alias("balanceBefore"),
        F.col("value").alias("balanceAfter"),
        F.date_format(EVENT_TIME_COL, "yyyy-MM-dd HH:mm:ss").alias("datetime"),
    )
