"""Streaming CEP golden test (SURVEY §7 M3): the reference fixtures
replayed through Structured Streaming — file source, watermark 6 min
(FlinkCEPExample.scala:28), memory sink — must produce the same match
and timeout rows as batch. Emission order differs from Flink (per
micro-batch, SURVEY §7 known-hard #3), so we compare sets."""

from __future__ import annotations

import time

import pytest

pytestmark = pytest.mark.slow  # round-17 driver-budget deselection (VERDICT r16 item 1); round close runs `pytest -m slow`

from flink_cep_examples_spark.plans.pattern import billing_pattern
from flink_cep_examples_spark.schemas import MATCH_TAG, TIMEOUT_TAG
from flink_cep_examples_spark.sources.billing import read_billing_csv_stream
from flink_cep_examples_spark.streaming import match_pattern_stream

from tests.fixtures import EXPECTED_MATCHES, EXPECTED_TIMEOUTS, GOLDEN_INPUT_ROWS


@pytest.mark.slow
def test_streaming_golden(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    chk = tmp_path / "chk"

    def write_batch(name: str, rows):
        (src / name).write_text(
            "\n".join(",".join(map(str, r)) for r in rows) + "\n"
        )

    write_batch("batch1.csv", GOLDEN_INPUT_ROWS)

    stream = read_billing_csv_stream(spark, str(src))
    spec = billing_pattern(emit_timeouts=True)
    out = match_pattern_stream(stream, spec, watermark_delay="6 minutes")

    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("cep_stream_out")
        .option("checkpointLocation", str(chk))
        .start()
    )
    try:
        q.processAllAvailable()
        # watermark sentinel: a far-future non-alarm event pushes the
        # watermark past every deadline so pending releases + absence
        # timers fire (no-data micro-batches handle the final hop).
        write_batch("batch2.csv", [("99", "2021-01-01 00:00:00", 5, 5)])
        q.processAllAvailable()
        # allow a no-data micro-batch to run the event-time timers
        deadline = time.time() + 30
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM cep_stream_out").collect()
            if len(rows) >= 2:
                break
            time.sleep(1)
    finally:
        q.stop()

    rows = spark.sql("SELECT * FROM cep_stream_out").collect()
    matches = sorted(
        (r.id, r.alarmTriggerDatetime, r.topupDatetime)
        for r in rows
        if r.tag == MATCH_TAG
    )
    timeouts = sorted(
        (r.id, r.alarmTriggerDatetime, r.topupDatetime)
        for r in rows
        if r.tag == TIMEOUT_TAG
    )
    assert matches == EXPECTED_MATCHES
    assert timeouts == EXPECTED_TIMEOUTS


@pytest.mark.slow
def test_streaming_until_matches_batch(spark, sf_small, tmp_path):
    """until() through the streaming operator: the extra stop-condition
    pred column rides the state buffer; replaying the events-as-billing
    stream (plus a far-future watermark sentinel) must reproduce the
    batch matches exactly, n_b truncation included."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.operators import match_pattern
    from flink_cep_examples_spark.queries.cep import until_pattern_spec
    from flink_cep_examples_spark.sources.billing import events_as_billing

    spec = until_pattern_spec()
    billing = events_as_billing(spark, sf_small)
    sentinel = spark.createDataFrame(
        [("zz", "2031-01-01 00:00:00", 50.0, 50.0, 999_999_999)],
        "id string, datetime string, balanceBefore double, "
        "balanceAfter double, seq long",
    ).select(
        "id",
        F.to_timestamp("datetime").alias("event_time"),
        "seq",
        "balanceBefore",
        "balanceAfter",
        "datetime",
    )
    src = str(tmp_path / "billing_until")
    billing.select(sentinel.columns).unionByName(sentinel).coalesce(
        2
    ).write.parquet(src)

    batch = match_pattern(spark.read.parquet(src), spec).drop("tag")
    expected = sorted(map(tuple, batch.collect()))
    assert expected, "expected until matches in the fixture"

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    from flink_cep_examples_spark.streaming import match_pattern_stream

    out = match_pattern_stream(stream, spec, "6 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("until_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        map(tuple, spark.table("until_mem").drop("tag").collect())
    )
    assert expected == got


@pytest.mark.slow
def test_streaming_skip_to_last_matches_batch(spark, tmp_path):
    """SKIP TO LAST B through the streaming operator: the strategy's
    resumption cutoff lives in Nfa.step (shared by both tiers), so the
    streamed replay must reproduce the batch match set — which on this
    every-row-matches fixture differs from every other strategy
    (starts {0, 2}, not {0} or {0, 1, 2})."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.operators import match_pattern
    from flink_cep_examples_spark.plans.pattern import (
        SKIP_TO_LAST,
        Measure,
        Pattern,
    )
    from flink_cep_examples_spark.sources.billing import billing_from_rows

    spec = (
        Pattern.begin("A", skip=SKIP_TO_LAST, skip_var="B")
        .where("balanceAfter >= 0")
        .next("B")
        .times(2)
        .where("balanceAfter >= 0")
        .next("C")
        .where("balanceAfter >= 0")
    ).build(
        measures=(
            Measure("alarmTriggerDatetime", "A", "datetime", "first"),
            Measure("topupDatetime", "C", "datetime", "first"),
        )
    )
    rows = [
        ("1", f"2020-05-01 11:{mm:02d}:00", 50, 50) for mm in range(6)
    ] + [("99", "2021-01-01 00:00:00", -1, -1)]  # watermark sentinel
    df = billing_from_rows(spark, rows)

    batch = match_pattern(df, spec).drop("tag")
    expected = sorted(map(tuple, batch.collect()))
    assert [e[1] for e in expected] == [
        "2020-05-01 11:00:00",  # start 0 (B = rows 1-2, C = row 3)
        "2020-05-01 11:02:00",  # resume at last B (row 2) -> start 2
    ]

    src = str(tmp_path / "skipto")
    df.coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = match_pattern_stream(stream, spec, "6 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("skipto_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.table("skipto_mem").drop("tag").collect()))
    assert expected == got


def test_streaming_leading_optional_matches_batch(spark, tmp_path):
    """Round 9: a LEADING optional variable (``A? B``) streams through
    the same multi-begin NFA fix as batch — a lone B row (zero-width
    A) must match on BOTH tiers. Before round 9 the NFA opened runs
    only at position 0, so key 1's lone-B match silently vanished;
    the streaming prefilter (begin_preds OR) and the step() begin
    closure are the shared surfaces under test."""
    from flink_cep_examples_spark.operators import match_pattern
    from flink_cep_examples_spark.plans.pattern import Measure, Pattern
    from flink_cep_examples_spark.sources.billing import billing_from_rows

    spec = (
        Pattern.begin("A")
        .where("balanceAfter >= 10")
        .optional()
        .next("B")
        .where("balanceAfter BETWEEN 0 AND 9")
    ).build(
        measures=(
            Measure("first_dt", "B", "datetime", "first"),
            Measure("n_a", "A", None, "count"),
        )
    )
    rows = [
        # key 1: lone B — the round-9 zero-width-prefix case
        ("1", "2020-05-01 11:00:00", 5, 5),
        # key 2: A then B — one match spanning both
        ("2", "2020-05-01 11:00:00", 20, 20),
        ("2", "2020-05-01 11:01:00", 5, 5),
        # key 3: lone A — no match
        ("3", "2020-05-01 11:00:00", 20, 20),
        ("99", "2021-01-01 00:00:00", -1, -1),  # inert watermark sentinel
    ]
    df = billing_from_rows(spark, rows)

    expected = sorted(
        map(tuple, match_pattern(df, spec).drop("tag").collect())
    )
    assert [(e[0], e[2]) for e in expected] == [("1", 0), ("2", 1)]

    src = str(tmp_path / "leadopt")
    df.coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = match_pattern_stream(stream, spec, "6 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("leadopt_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        map(tuple, spark.table("leadopt_mem").drop("tag").collect())
    )
    assert expected == got


def test_streaming_classifier_matches_batch(spark, sf_small, tmp_path):
    """CLASSIFIER() through the streaming operator (round 4): the
    measure reads the match's own span ordinals, so it needs no extra
    state; the streamed replay must reproduce the batch rows exactly.
    (MATCH_NUMBER, batch-only when this test was written, streams
    since round 5 via the per-key match_nos counter — and since round
    13 under every skip/derivation combo via the reorder hold.)"""
    import dataclasses

    from pyspark.sql import functions as F

    from flink_cep_examples_spark.operators import match_pattern
    from flink_cep_examples_spark.plans.pattern import Measure, billing_pattern
    from flink_cep_examples_spark.sources.billing import events_as_billing
    from flink_cep_examples_spark.streaming import match_pattern_stream

    spec = dataclasses.replace(
        billing_pattern(),
        measures=(
            Measure("alarm_dt", "A", "datetime", "first"),
            Measure("cls", "", "", "classifier"),
            Measure("n_b", "B", "__count__", "count"),
        ),
    )
    billing = events_as_billing(spark, sf_small)
    sentinel = spark.createDataFrame(
        [("zz", "2031-01-01 00:00:00", 50.0, 50.0, 999_999_999)],
        "id string, datetime string, balanceBefore double, "
        "balanceAfter double, seq long",
    ).select(
        "id",
        F.to_timestamp("datetime").alias("event_time"),
        "seq",
        "balanceBefore",
        "balanceAfter",
        "datetime",
    )
    src = str(tmp_path / "billing_cls")
    billing.select(sentinel.columns).unionByName(sentinel).coalesce(
        2
    ).write.parquet(src)

    batch = match_pattern(spark.read.parquet(src), spec).drop("tag")
    expected = sorted(map(tuple, batch.collect()))
    assert expected and all(t[-2] == "C" for t in expected)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = match_pattern_stream(stream, spec, "6 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("cls_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.table("cls_mem").drop("tag").collect()))
    assert expected == got


def test_streaming_restart_from_checkpoint(spark, tmp_path):
    """State-store recovery: run the CEP stream over HALF the input,
    STOP the query, append the rest, and start a NEW query from the
    SAME checkpoint — buffered rows and open partial matches must
    restore (pickled NfaState blobs) and the final output must equal
    the batch answer. This is the micro-batch crash/redeploy story."""
    import time as _time

    from pyspark.sql import functions as F

    from flink_cep_examples_spark.operators import match_pattern
    from flink_cep_examples_spark.plans.pattern import billing_pattern
    from flink_cep_examples_spark.sources.billing import events_as_billing
    from flink_cep_examples_spark.streaming import match_pattern_stream

    spec = billing_pattern(emit_timeouts=True)
    billing = events_as_billing(spark, "/root/testdata/sf0.001")
    sentinel = spark.createDataFrame(
        [("zz", "2031-01-01 00:00:00", 50.0, 50.0, 999_999_999)],
        "id string, datetime string, balanceBefore double, "
        "balanceAfter double, seq long",
    ).select(
        "id",
        F.to_timestamp("datetime").alias("event_time"),
        "seq",
        "balanceBefore",
        "balanceAfter",
        "datetime",
    )
    full = billing.select(sentinel.columns).unionByName(sentinel).cache()
    batch = match_pattern(full, spec)
    expected = sorted(map(tuple, batch.collect()))
    assert expected

    # split by time: first half of each key's rows lands in part 1 —
    # guaranteeing open partials (mid-pattern) at the stop point
    cut = full.approxQuantile("seq", [0.5], 0.01)[0]
    src = tmp_path / "src"
    src.mkdir()
    chk = str(tmp_path / "chk")
    full.filter(F.col("seq") <= cut).coalesce(1).write.parquet(
        str(src / "p1")
    )
    schema = spark.read.parquet(str(src / "p1")).schema

    sink = str(tmp_path / "out")

    def run_once() -> None:
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        out = match_pattern_stream(stream, spec, "6 minutes")
        q = (
            out.writeStream.outputMode("append")
            .format("parquet")  # memory sink cannot recover from a checkpoint
            .option("path", sink)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()  # first half; query STOPS (availableNow) with open state
    full.filter(F.col("seq") > cut).coalesce(1).write.parquet(
        str(src / "p2")
    )
    run_once()  # NEW query object, same checkpoint: state restores
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))
    assert got == expected
    full.unpersist()


@pytest.mark.slow
def test_streaming_match_number_matches_batch(spark, tmp_path):
    """MATCH_NUMBER() in streaming (round 5): a per-key monotone
    counter in the bucket state. Replayed over TWO micro-batches
    (maxFilesPerTrigger=1) so the counter must survive checkpointed
    state between batches; the streamed (key, measures, match_no) set
    must equal the batch operator's."""
    import datetime as dt

    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
        parse_match_recognize,
    )
    from flink_cep_examples_spark.streaming.cep_stream import (
        match_pattern_stream,
    )

    body = """
        PARTITION BY id ORDER BY event_time, seq
        MEASURES FIRST(X.seq) AS s, MATCH_NUMBER() AS mno
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (X Z)
        DEFINE X AS m = 1, Z AS m = 0
    """
    t0 = dt.datetime(2020, 5, 1, 12, 0, 0)
    schema = "id string, event_time timestamp, seq long, m long"

    def rows(ms, key, base):
        return [
            (key, t0 + dt.timedelta(minutes=base + i), base + i, m)
            for i, m in enumerate(ms)
        ]

    # two files = two micro-batches; each key matches in BOTH files, so
    # the second batch's ordinals continue from persisted counters
    first = rows([1, 0, 1, 0, 2], "a", 0) + rows([1, 0], "b", 0)
    second = rows([1, 0, 9], "a", 10) + rows([1, 0, 1, 0, 9], "b", 10)
    src = tmp_path / "mno_src"
    spark.createDataFrame(first, schema).coalesce(1).write.parquet(str(src))
    spark.createDataFrame(second, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    batch_df = spark.read.parquet(str(src))
    batch = sorted(
        (r.id, r.s, r.mno) for r in match_recognize(batch_df, body).collect()
    )

    spec = parse_match_recognize(body)
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = match_pattern_stream(stream, spec, watermark_delay="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("mno_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.id, r.s, r.mno)
        for r in spark.sql("SELECT * FROM mno_stream").collect()
    )
    assert got == batch and len({k for k, _, _ in batch}) == 2
    # ordinals are per-key 1..n
    for key in ("a", "b"):
        assert [m for k, _, m in got if k == key] == list(
            range(1, sum(k == key for k, _, _ in got) + 1)
        )


@pytest.mark.slow
def test_streaming_group_chain_matches_batch(spark, sf_small, tmp_path):
    """Round 8 (VERDICT r7 item 5): the chain-kernel shape ``((X Y)+)
    WITHIN INTERVAL '2' DAY`` under LONGEST derivation streamed through
    the held-completion NFA coordinator must reproduce the batch chain
    KERNEL's matches exactly — a cross-tier differential (batch
    compiles to the deadline-capped match_pattern_fast_loop_chain;
    streaming holds completions in NfaState.helds across micro-batches
    and resolves them as the watermark passes each start's deadline).
    The WITHIN clause is what makes end-of-stream equivalence hold at
    all: a deadline-free chain's final held completions are
    semantically undecidable on an unbounded stream (more rows could
    extend them), so the production shape is the bounded one. A
    far-future sentinel row (inert class) pushes the closing
    watermark past every deadline, standing in for the stream's
    continued advance. Throughput at 10x replay is recorded in
    SCALING.md."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.sources.tables import load_table
    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
        parse_match_recognize,
    )

    events = load_table(spark, sf_small, "events").select(
        "user_id", "ts", "event_id"
    )
    sentinel = spark.createDataFrame(
        [(-1, "2031-01-01 00:00:00", 3)],  # 3 % 3 == 0: inert class
        "user_id long, dt string, event_id long",
    ).select("user_id", F.to_timestamp("dt").alias("ts"), "event_id")
    # micro-batch replay must be ~time-ordered ACROSS batches (rows
    # later than the watermark are dropped, the standard streaming
    # contract) — write three time-range chunks sequentially so file
    # modification times replay them in order, sentinel last
    src = str(tmp_path / "chain_events")
    lo, hi = events.agg(
        F.min("ts").alias("a"), F.max("ts").alias("b")
    ).first()
    cut1 = lo + (hi - lo) / 3
    cut2 = lo + 2 * (hi - lo) / 3
    for part in (
        events.filter(F.col("ts") <= F.lit(cut1)),
        events.filter(
            (F.col("ts") > F.lit(cut1)) & (F.col("ts") <= F.lit(cut2))
        ),
        events.filter(F.col("ts") > F.lit(cut2)),
        sentinel,
    ):
        part.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes -> deterministic replay order

    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES FIRST(X.ts) AS first_x_ts,
             LAST(Y.ts) AS last_y_ts,
             COUNT(X.*) AS pairs
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN ((X Y)+) WITHIN INTERVAL '2' DAY
    DEFINE X AS event_id % 3 = 1,
           Y AS event_id % 3 = 2
    """
    batch_df = spark.read.parquet(src)
    batch = sorted(
        (r.user_id, r.first_x_ts, r.last_y_ts, r.pairs)
        for r in match_recognize(
            batch_df, body, tiebreak_col="event_id"
        ).collect()
    )
    assert batch, "expected chain matches in the fixture"

    spec = parse_match_recognize(body)
    assert spec.derivation == "longest"
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = match_recognize(
        stream, body, tiebreak_col="event_id", watermark_delay="6 minutes"
    )
    q = (
        out.drop("tag")
        .writeStream.format("memory")
        .queryName("chain_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r.user_id, r.first_x_ts, r.last_y_ts, r.pairs)
        for r in spark.sql("SELECT * FROM chain_stream").collect()
    )
    assert got == batch


@pytest.mark.slow
def test_streaming_multi_branch_group_matches_batch(spark, sf_small, tmp_path):
    """Round 8: alternation inside an unbounded group streamed through
    the held-completion coordinator (multi-begin, any-branch loop-back
    NFA state) must equal the batch multi-branch chain KERNEL. WITHIN
    bounds the chains so end-of-stream equivalence is decidable; a
    far-future inert sentinel closes the watermark."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.sources.tables import load_table
    from flink_cep_examples_spark.sql.match_recognize import match_recognize

    events = load_table(spark, sf_small, "events").select(
        "user_id", "ts", "event_id"
    )
    sentinel = spark.createDataFrame(
        [(-1, "2031-01-01 00:00:00", 0)],
        "user_id long, dt string, event_id long",
    ).select("user_id", F.to_timestamp("dt").alias("ts"), "event_id")
    src = str(tmp_path / "branch_events")
    lo, hi = events.agg(
        F.min("ts").alias("a"), F.max("ts").alias("b")
    ).first()
    cut = lo + (hi - lo) / 2
    for part in (
        events.filter(F.col("ts") <= F.lit(cut)),
        events.filter(F.col("ts") > F.lit(cut)),
        sentinel,
    ):
        part.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES FIRST(A.ts) AS fa, FIRST(C.ts) AS fc,
             COUNT(A.*) AS n_ab, COUNT(C.*) AS n_cd
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN ((A B | C D)+) WITHIN INTERVAL '2' DAY
    DEFINE A AS event_id % 5 = 1, B AS event_id % 5 = 2,
           C AS event_id % 5 = 3, D AS event_id % 5 = 4
    """  # per-var measures: SUBSET unions are batch-tier by design
    key = lambda t: tuple(str(x) for x in t)  # None-safe sort
    batch_df = spark.read.parquet(src)
    batch = sorted(
        map(tuple, match_recognize(
            batch_df, body, tiebreak_col="event_id"
        ).collect()),
        key=key,
    )
    assert batch, "expected multi-branch matches in the fixture"

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = match_recognize(
        stream, body, tiebreak_col="event_id", watermark_delay="6 minutes"
    )
    q = (
        out.drop("tag")
        .writeStream.format("memory")
        .queryName("branch_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM branch_stream").collect()),
        key=key,
    )
    assert got == batch


@pytest.mark.slow
def test_streaming_group_absence_matches_batch(spark, sf_small, tmp_path):
    """Round 8: the timeout channel x loop groups streamed — match AND
    timeout rows (tags included) must equal the batch group-absence
    KERNEL; held completions beat the timeout channel across
    micro-batch boundaries exactly as in advance_time's walk."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.sources.tables import load_table
    from flink_cep_examples_spark.sql.match_recognize import match_recognize

    events = load_table(spark, sf_small, "events").select(
        "user_id", "ts", "event_id"
    )
    sentinel = spark.createDataFrame(
        [(-1, "2031-01-01 00:00:00", 0)],
        "user_id long, dt string, event_id long",
    ).select("user_id", F.to_timestamp("dt").alias("ts"), "event_id")
    src = str(tmp_path / "absence_events")
    lo, hi = events.agg(
        F.min("ts").alias("a"), F.max("ts").alias("b")
    ).first()
    cut = lo + (hi - lo) / 2
    for part in (
        events.filter(F.col("ts") <= F.lit(cut)),
        events.filter(F.col("ts") > F.lit(cut)),
        sentinel,
    ):
        part.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES FIRST(X.ts) AS fx, LAST(Z.ts) AS lz, COUNT(X.*) AS n_x
    ONE ROW PER MATCH
    AFTER MATCH SKIP TO NEXT ROW
    PATTERN ((X Y)+ Z) WITHIN INTERVAL '2' DAY
    DEFINE X AS event_id % 4 = 1, Y AS event_id % 4 = 2,
           Z AS event_id % 4 = 3
    """
    batch_df = spark.read.parquet(src)
    batch = sorted(
        map(tuple, match_recognize(
            batch_df, body, tiebreak_col="event_id", emit_timeouts=True
        ).collect())
    )
    tags = {r[-1] for r in batch}
    assert tags == {"match", "timeout"}, tags

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = match_recognize(
        stream,
        body,
        tiebreak_col="event_id",
        emit_timeouts=True,
        watermark_delay="6 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("absence_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM absence_stream").collect())
    )
    assert got == batch


@pytest.mark.slow
@pytest.mark.parametrize(
    "pattern,defines,mod,measures",
    [
        (  # depth 2 — the cep_group_nested_within gate shape
            "(((A B)+ C)+) WITHIN INTERVAL '72' HOUR",
            "A AS event_id % 3 = 1, B AS event_id % 3 = 2, "
            "C AS event_id % 3 = 0",
            3,
            "FIRST(A.ts) AS f_ts, LAST(C.ts) AS l_ts, "
            "COUNT(A.*) AS n_pairs, COUNT(C.*) AS n_units",
        ),
        (  # depth 3 — the cep_group_nested3 gate shape + deadline
            "((((A B)+ C)+ D)+) WITHIN INTERVAL '72' HOUR",
            "A AS event_id % 4 = 1, B AS event_id % 4 = 2, "
            "C AS event_id % 4 = 3, D AS event_id % 4 = 0",
            4,
            "FIRST(A.ts) AS f_ts, LAST(D.ts) AS l_ts, "
            "COUNT(A.*) AS n_pairs, COUNT(C.*) AS n_units, "
            "COUNT(D.*) AS n_mids",
        ),
    ],
    ids=["nested2", "nested3"],
)
def test_streaming_nested_group_matches_batch(
    spark, sf_small, tmp_path, pattern, defines, mod, measures
):
    """Round 10 (VERDICT r9 item 7): NESTED unbounded groups streamed
    through the held-completion NFA coordinator must reproduce the
    batch NESTED CHAIN KERNELS' matches exactly — time-ordered replay
    in three chunks, far-future sentinel on its own key advancing the
    closing watermark past every deadline (the WITHIN clause is what
    makes end-of-stream equivalence decidable, as in the single-level
    chain agreement test above)."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.sources.tables import load_table
    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    events = load_table(spark, sf_small, "events").select(
        "user_id", "ts", "event_id"
    )
    sentinel = spark.createDataFrame(
        [(-1, "2031-01-01 00:00:00", 1)],
        "user_id long, dt string, event_id long",
    ).select("user_id", F.to_timestamp("dt").alias("ts"), "event_id")
    src = str(tmp_path / "nested_events")
    lo, hi = events.agg(
        F.min("ts").alias("a"), F.max("ts").alias("b")
    ).first()
    cut1 = lo + (hi - lo) / 3
    cut2 = lo + 2 * (hi - lo) / 3
    for part in (
        events.filter(F.col("ts") <= F.lit(cut1)),
        events.filter(
            (F.col("ts") > F.lit(cut1)) & (F.col("ts") <= F.lit(cut2))
        ),
        events.filter(F.col("ts") > F.lit(cut2)),
        sentinel,
    ):
        part.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    body = f"""
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES {measures}
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN {pattern}
    DEFINE {defines}
    """
    batch_df = spark.read.parquet(src)
    batch = sorted(
        map(tuple, match_recognize(
            batch_df, body, tiebreak_col="event_id"
        ).collect())
    )
    assert batch, "expected nested-group matches in the fixture"

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = match_recognize(
        stream, body, tiebreak_col="event_id",
        watermark_delay="6 minutes",
    )
    qname = f"nested_stream_{mod}"
    q = (
        out.drop("tag")
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        map(tuple, spark.sql(f"SELECT * FROM {qname}").collect())
    )
    assert got == batch


@pytest.mark.slow
def test_streaming_mixed_width_branch_matches_batch(spark, sf_small, tmp_path):
    """Round 10: MIXED-WIDTH branch groups ((A | C D)+) streamed
    through the held-completion coordinator must equal the batch tier
    (branch-dependent iteration length — the islands kernel's shape;
    WITHIN bounds chains for end-of-stream decidability, which also
    routes the batch side to the NFA tier, so this is a genuine
    cross-tier agreement)."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.sources.tables import load_table
    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    events = load_table(spark, sf_small, "events").select(
        "user_id", "ts", "event_id"
    )
    sentinel = spark.createDataFrame(
        [(-1, "2031-01-01 00:00:00", 0)],
        "user_id long, dt string, event_id long",
    ).select("user_id", F.to_timestamp("dt").alias("ts"), "event_id")
    src = str(tmp_path / "mixed_branch_events")
    lo, hi = events.agg(
        F.min("ts").alias("a"), F.max("ts").alias("b")
    ).first()
    cut = lo + (hi - lo) / 2
    for part in (
        events.filter(F.col("ts") <= F.lit(cut)),
        events.filter(F.col("ts") > F.lit(cut)),
        sentinel,
    ):
        part.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES FIRST(A.ts) AS fa, FIRST(C.ts) AS fc,
             COUNT(A.*) AS n_a, COUNT(C.*) AS n_cd
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN ((A | C D)+) WITHIN INTERVAL '2' DAY
    DEFINE A AS event_id % 5 = 1, C AS event_id % 5 = 3,
           D AS event_id % 5 = 4
    """
    key = lambda t: tuple(str(x) for x in t)
    batch_df = spark.read.parquet(src)
    batch = sorted(
        map(tuple, match_recognize(
            batch_df, body, tiebreak_col="event_id"
        ).collect()),
        key=key,
    )
    assert batch, "expected mixed-width branch matches in the fixture"

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = match_recognize(
        stream, body, tiebreak_col="event_id",
        watermark_delay="6 minutes",
    )
    q = (
        out.drop("tag")
        .writeStream.format("memory")
        .queryName("mixed_branch_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        map(tuple, spark.sql(
            "SELECT * FROM mixed_branch_stream"
        ).collect()),
        key=key,
    )
    assert got == batch


@pytest.mark.slow
def test_streaming_aggregate_measures_match_batch(spark, sf_small, tmp_path):
    """Aggregate MEASURES in streaming (round 11, VERDICT r10 item 2):
    SUM/AVG/MIN/MAX/COUNT(col) fold incrementally into each NFA span's
    accumulator (operators/nfa.py::enable_payload_fold) — O(1) state
    per live branch, no matched-row retention — and must reproduce the
    batch evaluator's values exactly, including NULL aggregates for an
    empty ``B*``. Mirrors FlinkSqlMatchRecognizeExample.scala:57-59's
    MEASURES clause generalized (the cep_measure_aggregates shape)."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.sources.tables import load_table
    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    events = load_table(spark, sf_small, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    sentinel = spark.createDataFrame(
        [
            # user -2: A then C, an empty B* (NULL aggregates, n_b 0)
            (-2, "2030-12-31 23:00:00", 5, 7.0),
            (-2, "2030-12-31 23:01:00", 7, 8.0),
            (-1, "2031-01-01 00:00:00", 4, 0.0),  # 4 % 4 == 0: inert
        ],
        "user_id long, dt string, event_id long, value double",
    ).select(
        "user_id", F.to_timestamp("dt").alias("ts"), "event_id", "value"
    )
    src = str(tmp_path / "agg_events")
    lo, hi = events.agg(
        F.min("ts").alias("a"), F.max("ts").alias("b")
    ).first()
    cut1 = lo + (hi - lo) / 3
    cut2 = lo + 2 * (hi - lo) / 3
    for part in (
        events.filter(F.col("ts") <= F.lit(cut1)),
        events.filter(
            (F.col("ts") > F.lit(cut1)) & (F.col("ts") <= F.lit(cut2))
        ),
        events.filter(F.col("ts") > F.lit(cut2)),
        sentinel,
    ):
        part.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes -> deterministic replay order

    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES FIRST(A.ts) AS a_ts,
             SUM(B.value) AS sum_b, AVG(B.value) AS avg_b,
             MIN(B.value) AS min_b, MAX(B.value) AS max_b,
             COUNT(B.value) AS n_b, MATCH_NUMBER() AS mno
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (A B* C) WITHIN INTERVAL '2' DAY
    DEFINE A AS event_id % 4 = 1,
           B AS event_id % 4 = 2,
           C AS event_id % 4 = 3
    """

    def key(r):
        return (
            r.user_id,
            r.a_ts,
            None if r.sum_b is None else round(r.sum_b, 6),
            None if r.avg_b is None else round(r.avg_b, 6),
            r.min_b,
            r.max_b,
            r.n_b,
            r.mno,  # after the aggregates: must not read their state
        )

    batch_df = spark.read.parquet(src)
    batch = sorted(
        key(r)
        for r in match_recognize(
            batch_df, body, tiebreak_col="event_id"
        ).collect()
    )
    assert batch, "expected matches in the fixture"
    # user -2's match: NULL SUM/AVG/MIN/MAX, COUNT 0, first match
    empty_b = [r[:1] + r[2:] for r in batch if r[0] == -2]
    assert empty_b == [(-2, None, None, None, None, 0, 1)]

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = match_recognize(
        stream, body, tiebreak_col="event_id", watermark_delay="6 minutes"
    )
    q = (
        out.drop("tag")
        .writeStream.format("memory")
        .queryName("agg_measures_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        key(r)
        for r in spark.sql("SELECT * FROM agg_measures_stream").collect()
    )
    assert got == batch


@pytest.mark.slow
def test_streaming_subset_measures_match_batch(spark, sf_small, tmp_path):
    """SUBSET union measures in streaming (round 11): emission merges
    the component spans — FIRST from the earliest, LAST by largest
    last-ordinal, COUNT summed, aggregate accumulators combined — and
    must equal the batch tier on the cep_subset_measures shape
    (SUBSET U = (A, C) over A B* C)."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.sources.tables import load_table
    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    events = load_table(spark, sf_small, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    sentinel = spark.createDataFrame(
        [(-1, "2031-01-01 00:00:00", 4, 0.0)],  # 4 % 4 == 0: inert
        "user_id long, dt string, event_id long, value double",
    ).select(
        "user_id", F.to_timestamp("dt").alias("ts"), "event_id", "value"
    )
    src = str(tmp_path / "subset_events")
    lo, hi = events.agg(
        F.min("ts").alias("a"), F.max("ts").alias("b")
    ).first()
    cut = lo + (hi - lo) / 2
    for part in (
        events.filter(F.col("ts") <= F.lit(cut)),
        events.filter(F.col("ts") > F.lit(cut)),
        sentinel,
    ):
        part.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES FIRST(U.value) AS u_first, LAST(U.value) AS u_last,
             SUM(U.value) AS u_sum, COUNT(U.*) AS u_rows
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (A B* C) WITHIN INTERVAL '2' DAY
    SUBSET U = (A, C)
    DEFINE A AS event_id % 4 = 1,
           B AS event_id % 4 = 2,
           C AS event_id % 4 = 3
    """

    def key(r):
        return (
            r.user_id,
            None if r.u_first is None else round(r.u_first, 6),
            None if r.u_last is None else round(r.u_last, 6),
            None if r.u_sum is None else round(r.u_sum, 6),
            r.u_rows,
        )

    batch_df = spark.read.parquet(src)
    batch = sorted(
        key(r)
        for r in match_recognize(
            batch_df, body, tiebreak_col="event_id"
        ).collect()
    )
    assert batch

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = match_recognize(
        stream, body, tiebreak_col="event_id", watermark_delay="6 minutes"
    )
    q = (
        out.drop("tag")
        .writeStream.format("memory")
        .queryName("subset_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        key(r) for r in spark.sql("SELECT * FROM subset_stream").collect()
    )
    assert got == batch


@pytest.mark.slow
def test_streaming_all_rows_matches_batch(spark, sf_small, tmp_path):
    """ALL ROWS PER MATCH in streaming (round 11 — previously a
    structural reject, and beyond the reference: Flink SQL
    MATCH_RECOGNIZE is ONE ROW PER MATCH only on streams): the span
    fold captures each consumed row with the NFA's per-key ordinal
    (monotone ACROSS micro-batches — a batch-local index would
    interleave a multi-batch match's rows wrongly), emission expands
    the match sorted by it. Full agreement with the batch tier:
    every input column + classifier + 0-based match_seq + FINAL
    measures incl. aggregates."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.sources.tables import load_table
    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    events = load_table(spark, sf_small, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    sentinel = spark.createDataFrame(
        [(-1, "2031-01-01 00:00:00", 4, 0.0)],  # 4 % 4 == 0: inert
        "user_id long, dt string, event_id long, value double",
    ).select(
        "user_id", F.to_timestamp("dt").alias("ts"), "event_id", "value"
    )
    src = str(tmp_path / "allrows_events")
    lo, hi = events.agg(
        F.min("ts").alias("a"), F.max("ts").alias("b")
    ).first()
    cut1 = lo + (hi - lo) / 3
    cut2 = lo + 2 * (hi - lo) / 3
    for part in (
        events.filter(F.col("ts") <= F.lit(cut1)),
        events.filter(
            (F.col("ts") > F.lit(cut1)) & (F.col("ts") <= F.lit(cut2))
        ),
        events.filter(F.col("ts") > F.lit(cut2)),
        sentinel,
    ):
        part.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES FINAL COUNT(B.*) AS n_b, SUM(B.value) AS sum_b,
             MATCH_NUMBER() AS mn
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (A B* C) WITHIN INTERVAL '2' DAY
    DEFINE A AS event_id % 4 = 1,
           B AS event_id % 4 = 2,
           C AS event_id % 4 = 3
    """

    def key(r):
        return (
            r.user_id, r.ts, r.event_id, r.classifier, r.match_seq,
            r.n_b,
            None if r.sum_b is None else round(r.sum_b, 6),
            r.mn,
        )

    batch_df = spark.read.parquet(src)
    batch = sorted(
        key(r)
        for r in match_recognize(
            batch_df, body, tiebreak_col="event_id"
        ).collect()
    )
    assert batch

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = match_recognize(
        stream, body, tiebreak_col="event_id", watermark_delay="6 minutes"
    )
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("allrows_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        key(r) for r in spark.sql("SELECT * FROM allrows_stream").collect()
    )
    assert got == batch


def test_streaming_all_rows_rejects(spark, tmp_path):
    """Streaming ALL ROWS boundary: 'longest' derivation streams since
    round 12 under SKIP PAST LAST (disjoint matches, sequential hold
    resolution = start-order emission; agreement tests at the end of
    this file) — overlapping skip strategies keep the loud reject;
    RUNNING measures stream since round 11.2 (agreement test below)."""
    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    schema_dir = tmp_path / "in"
    schema_dir.mkdir()
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_id long"
    ).parquet(str(schema_dir))
    longest_past_last = match_recognize(
        stream,
        """
        PARTITION BY user_id ORDER BY ts, event_id
        MEASURES COUNT(X.*) AS nx
        ALL ROWS PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN ((X Y)+) WITHIN INTERVAL '1' HOUR
        DEFINE X AS event_id % 3 = 1, Y AS event_id % 3 = 2
        """,
        tiebreak_col="event_id",
    )
    assert longest_past_last.isStreaming  # round 12: streams
    running = match_recognize(
        stream,
        """
        PARTITION BY user_id ORDER BY ts, event_id
        MEASURES RUNNING COUNT(B.*) AS rb
        ALL ROWS PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (A B* C)
        DEFINE A AS event_id % 4 = 1, B AS event_id % 4 = 2,
               C AS event_id % 4 = 3
        """,
        tiebreak_col="event_id",
    )
    assert running.isStreaming


@pytest.mark.slow
def test_streaming_all_rows_running_measures_match_batch(
    spark, sf_small, tmp_path
):
    """RUNNING measures in streaming ALL ROWS (round 11.2): an
    incremental walk over the match's captured rows clipped to each
    output row — must value-match the batch tier's _running_series
    semantics (count counts rows, NULL aggregation skips, empty
    prefix -> NULL), including rows before the first B."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.sources.tables import load_table
    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    events = load_table(spark, sf_small, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    sentinel = spark.createDataFrame(
        [(-1, "2031-01-01 00:00:00", 4, 0.0)],  # 4 % 4 == 0: inert
        "user_id long, dt string, event_id long, value double",
    ).select(
        "user_id", F.to_timestamp("dt").alias("ts"), "event_id", "value"
    )
    src = str(tmp_path / "runar_events")
    lo, hi = events.agg(
        F.min("ts").alias("a"), F.max("ts").alias("b")
    ).first()
    cut = lo + (hi - lo) / 2
    for part in (
        events.filter(F.col("ts") <= F.lit(cut)),
        events.filter(F.col("ts") > F.lit(cut)),
        sentinel,
    ):
        part.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES RUNNING COUNT(B.*) AS rb,
             RUNNING SUM(B.value) AS rsb,
             RUNNING AVG(B.value) AS rab,
             RUNNING LAST(B.value) AS rlb,
             RUNNING CLASSIFIER() AS rcls,
             FINAL COUNT(B.*) AS n_b
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (A B* C) WITHIN INTERVAL '2' DAY
    DEFINE A AS event_id % 4 = 1,
           B AS event_id % 4 = 2,
           C AS event_id % 4 = 3
    """

    def key(r):
        return (
            r.user_id, r.ts, r.event_id, r.classifier, r.match_seq,
            r.rb,
            None if r.rsb is None else round(r.rsb, 6),
            None if r.rab is None else round(r.rab, 6),
            None if r.rlb is None else round(r.rlb, 6),
            r.rcls, r.n_b,
        )

    batch_df = spark.read.parquet(src)
    batch = sorted(
        key(r)
        for r in match_recognize(
            batch_df, body, tiebreak_col="event_id"
        ).collect()
    )
    assert batch

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = match_recognize(
        stream, body, tiebreak_col="event_id", watermark_delay="6 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("runar_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        key(r) for r in spark.sql("SELECT * FROM runar_stream").collect()
    )
    assert got == batch


def test_streaming_restart_with_aggregate_and_all_rows_state(
    spark, tmp_path
):
    """Checkpoint recovery for the round-11 state shapes: spans carry a
    6th folded field (aggregate accumulators / captured rows), so a
    restart must restore them mid-match. Same protocol as
    test_streaming_restart_from_checkpoint — half the input, stop,
    append, new query from the same checkpoint — run for BOTH an
    aggregate-measures query and an ALL ROWS query."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.sources.billing import events_as_billing
    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    agg_body = """
      PARTITION BY id ORDER BY event_time
      MEASURES FIRST(A.datetime) AS alarm_dt,
               SUM(B.balanceAfter) AS sum_b, AVG(B.balanceAfter) AS avg_b
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B* C) WITHIN INTERVAL '1' HOUR
      DEFINE
        A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
        B AS B.balanceBefore >= B.balanceAfter,
        C AS C.balanceBefore < C.balanceAfter
    """
    all_rows_body = agg_body.replace(
        "ONE ROW PER MATCH", "ALL ROWS PER MATCH"
    ).replace(
        "FIRST(A.datetime) AS alarm_dt,\n"
        "               SUM(B.balanceAfter) AS sum_b, "
        "AVG(B.balanceAfter) AS avg_b",
        "FINAL COUNT(B.*) AS n_b, SUM(B.balanceAfter) AS sum_b",
    )
    billing = events_as_billing(spark, "/root/testdata/sf0.001")
    sentinel = spark.createDataFrame(
        [("zz", "2031-01-01 00:00:00", 50.0, 50.0, 999_999_999)],
        "id string, datetime string, balanceBefore double, "
        "balanceAfter double, seq long",
    ).select(
        "id",
        F.to_timestamp("datetime").alias("event_time"),
        "seq",
        "balanceBefore",
        "balanceAfter",
        "datetime",
    )
    full = billing.select(sentinel.columns).unionByName(sentinel).cache()
    cut = full.approxQuantile("seq", [0.5], 0.01)[0]

    def norm(r):
        return tuple(
            round(v, 6) if isinstance(v, float) else v for v in r
        )

    for tag, body in (("agg", agg_body), ("ar", all_rows_body)):
        expected = sorted(
            norm(tuple(r))
            for r in match_recognize(full, body).drop("tag").collect()
        )
        assert expected
        src = tmp_path / f"src_{tag}"
        src.mkdir()
        chk = str(tmp_path / f"chk_{tag}")
        sink = str(tmp_path / f"out_{tag}")
        full.filter(F.col("seq") <= cut).coalesce(1).write.parquet(
            str(src / "p1")
        )
        schema = spark.read.parquet(str(src / "p1")).schema

        def run_once() -> None:
            stream = spark.readStream.schema(schema).option(
                "recursiveFileLookup", "true"
            ).parquet(str(src))
            out = match_recognize(stream, body).drop("tag")
            q = (
                out.writeStream.outputMode("append")
                .format("parquet")
                .option("path", sink)
                .option("checkpointLocation", chk)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        run_once()
        full.filter(F.col("seq") > cut).coalesce(1).write.parquet(
            str(src / "p2")
        )
        run_once()
        got = sorted(
            norm(tuple(r)) for r in spark.read.parquet(sink).collect()
        )
        assert got == expected, tag
    full.unpersist()


def test_streaming_timeout_rows_carry_aggregates(spark, tmp_path):
    """Aggregate measures on TIMEOUT rows (round 11): a timed-out
    partial's accumulator covers the rows consumed so far — the
    streaming watermark-expiry emission must value-match batch's
    partial-span evaluation, including NULL sum / 0 count for
    empty-B* partials."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.operators import match_pattern
    from flink_cep_examples_spark.plans.pattern import (
        Measure,
        Pattern,
        SKIP_PAST_LAST_EVENT,
    )
    from flink_cep_examples_spark.sources.billing import events_as_billing
    from flink_cep_examples_spark.streaming import match_pattern_stream

    spec = (
        Pattern.begin("A", skip=SKIP_PAST_LAST_EVENT)
        .where("balanceBefore >= 10 AND balanceAfter < 10")
        .next("B")
        .one_or_more()
        .optional()
        .where("balanceBefore >= balanceAfter")
        .next("C")
        .where("balanceBefore < balanceAfter")
        .within("1 hour")
        .build(
            measures=[
                Measure("a_dt", "A", "datetime", "first"),
                Measure("sum_b", "B", "balanceAfter", "sum"),
                Measure("n_b", "B", "balanceAfter", "count_col"),
            ],
            emit_timeouts=True,
        )
    )
    billing = events_as_billing(spark, "/root/testdata/sf0.001")
    sentinel = spark.createDataFrame(
        [("zz", "2031-01-01 00:00:00", 50.0, 50.0, 999_999_999)],
        "id string, datetime string, balanceBefore double, "
        "balanceAfter double, seq long",
    ).select(
        "id",
        F.to_timestamp("datetime").alias("event_time"),
        "seq",
        "balanceBefore",
        "balanceAfter",
        "datetime",
    )
    src = str(tmp_path / "toagg")
    billing.select(sentinel.columns).unionByName(sentinel).coalesce(
        2
    ).write.parquet(src)
    batch_df = spark.read.parquet(src)

    def norm(r):
        return tuple(
            round(v, 6) if isinstance(v, float) else v for v in r
        )

    batch = sorted(
        norm(tuple(r)) for r in match_pattern(batch_df, spec).collect()
    )
    assert sum(1 for r in batch if r[-1] == "timeout") > 0

    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    out = match_pattern_stream(stream, spec, "6 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("toagg_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        norm(tuple(r)) for r in spark.table("toagg_stream").collect()
    )
    assert got == batch


def test_streaming_all_rows_exclusion_advances_running_state(
    spark, tmp_path
):
    """{- B* -} under streaming ALL ROWS with RUNNING measures: the
    excluded rows do not emit but the running walk still consumes them
    — the C row must show the full rb/rsb while no B rows appear.
    Batch/stream agreement on a hand fixture."""
    import datetime as dt

    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES RUNNING COUNT(B.*) AS rb, RUNNING SUM(B.value) AS rsb,
             FINAL COUNT(B.*) AS n_b
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (A {- B* -} C) WITHIN INTERVAL '2' DAY
    DEFINE A AS event_id % 4 = 1, B AS event_id % 4 = 2,
           C AS event_id % 4 = 3
    """
    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base + dt.timedelta(minutes=i), m, float(i))
        for i, m in enumerate([1, 2, 2, 3, 1, 3, 0, 1, 2, 3])
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    src = str(tmp_path / "excl")
    df.union(
        spark.createDataFrame(
            [(99, dt.datetime(2031, 1, 1), 0, 0.0)], df.schema
        )
    ).coalesce(1).write.parquet(src)
    batch_df = spark.read.parquet(src)

    def key(r):
        return (
            r.ts, r.classifier, r.match_seq, r.rb,
            None if r.rsb is None else round(r.rsb, 6), r.n_b,
        )

    batch = sorted(
        key(r)
        for r in match_recognize(
            batch_df, body, tiebreak_col="event_id"
        ).collect()
    )
    # no B rows emit; the first match's C row sees rb=2, rsb=1+2
    assert all(k[1] in ("A", "C") for k in batch)
    assert (dt.datetime(2024, 1, 1, 0, 3), "C", 0, 2, 3.0, 2) in batch

    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    out = match_recognize(
        stream, body, tiebreak_col="event_id", watermark_delay="6 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("excl_run_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        key(r)
        for r in spark.sql("SELECT * FROM excl_run_stream").collect()
    )
    assert got == batch


def test_pre_aggregate_checkpoint_span_fails_loud():
    """Round 12 (ADVICE r11 low): the state blob's registered schema is
    fixed binary, so Spark cannot reject a restart that adds aggregate
    measures over a checkpoint written without them. A restored 5-field
    span (no fold accumulator) must raise a RuntimeError naming the
    cause — both on extension (nfa._extend) and, were it to reach
    emission, in the stream emit — not an opaque IndexError."""
    import pickle

    from flink_cep_examples_spark.operators import nfa as N
    from flink_cep_examples_spark.plans.pattern import (
        ONE_OR_MORE,
        PatternSpec,
        PatternVar,
        SKIP_PAST_LAST_EVENT,
    )

    spec = PatternSpec(
        variables=(
            PatternVar("A", "pa", quantifier=ONE_OR_MORE),
            PatternVar("B", "pb"),
        ),
        after_match=SKIP_PAST_LAST_EVENT,
    )
    eng = N.Nfa(spec)
    eng.enable_payload_fold(
        lambda payload, ord_: (payload, ord_),
        lambda acc, payload, ord_: (payload, ord_),
    )
    st = N.NfaState()
    eng.step(st, 0, (True, False), ("row0",))
    assert st.runs
    # simulate a restore from a checkpoint written WITHOUT the fold:
    # strip every span back to the 5-field shape, round-tripping
    # through pickle the way the state store does
    for run in st.runs:
        run.branches = [
            br._replace(
                rows=tuple(
                    None if sp is None else sp[:5] for sp in br.rows
                )
            )
            for br in run.branches
        ]
    st = pickle.loads(pickle.dumps(st))
    with pytest.raises(RuntimeError, match="fresh checkpoint"):
        eng.step(st, 1_000, (True, False), ("row1",))


def test_capture_accumulator_shared_log_semantics():
    """Round 12 (ADVICE r11 low): the ALL ROWS capture accumulator is
    a shared append-only log with per-branch prefix lengths — O(1)
    amortized extension (the round-11 tuple concat was O(k²) per
    k-row span). Pins: prefix isolation on sibling divergence, legacy
    flat-tuple checkpoint migration, and pickle round-trip sharing."""
    import pickle

    from flink_cep_examples_spark.streaming.cep_stream import (
        _cap_fold,
        _cap_init,
        _cap_rows,
    )

    a = _cap_init(("r0",), 0)
    a = _cap_fold(a, ("r1",), 1)
    # fork: sibling b extends the same ancestor prefix...
    b = _cap_fold(a, ("rb",), 2)
    assert _cap_rows(b) == [("r0", 0), ("r1", 1), ("rb", 2)]
    # ...then a's own later extension must copy-diverge, not clobber
    a2 = _cap_fold(a, ("ra",), 3)
    assert _cap_rows(a2) == [("r0", 0), ("r1", 1), ("ra", 3)]
    assert _cap_rows(b) == [("r0", 0), ("r1", 1), ("rb", 2)]
    assert _cap_rows(a) == [("r0", 0), ("r1", 1)]  # prefix view intact
    # in-place tip append: consecutive extension shares storage
    assert a2[1] is not b[1] and b[1] is a[1]
    # legacy (pre-round-12) flat-tuple accumulator: readable and
    # extendable — first touch migrates
    legacy = (("x", 0), ("y", 1))
    assert list(_cap_rows(legacy)) == [("x", 0), ("y", 1)]
    m = _cap_fold(legacy, ("z",), 2)
    assert _cap_rows(m) == [("x", 0), ("y", 1), ("z", 2)]
    # pickle memo: two branches sharing one log serialize it once
    b2, a3 = pickle.loads(pickle.dumps((b, a)))
    assert _cap_rows(b2) == _cap_rows(b) and _cap_rows(a3) == _cap_rows(a)
    assert b2[1] is a3[1]  # sharing survives the round-trip


def test_no_skip_content_equal_diverged_logs_emit_once():
    """ADVICE r12 medium: keep()'s _rows_key keys shared-log capture
    accumulators by (log identity, prefix length), so two branches
    whose logs COPY-DIVERGED but hold identical captures both survive
    dedup; under NO_SKIP every completed branch is emitted, so the
    duplicate would emit the same ALL-ROWS match twice — batch tuple
    accumulators merge such branches by content at keep(). Pin: NO_SKIP
    emission dedups completions by CONTENT (_branch_content_key) —
    identical captures in different log objects emit ONCE; genuinely
    different captures keep emitting separately."""
    from flink_cep_examples_spark.operators import nfa as N
    from flink_cep_examples_spark.plans.pattern import (
        NO_SKIP,
        PatternSpec,
        PatternVar,
    )
    from flink_cep_examples_spark.streaming.cep_stream import (
        _cap_fold,
        _cap_init,
    )

    spec = PatternSpec(
        variables=(PatternVar("A", "pa"), PatternVar("B", "pb")),
        after_match=NO_SKIP,
    )

    def seed_state(eng):
        st = N.NfaState()
        ms, _ = eng.step(st, 0, (True, False), ("a0",))
        assert not ms and len(st.runs[0].branches) == 1
        return st

    def diverge(br, replace_row=None):
        # a sibling's copy-diverge: same prefix content, NEW log object
        sp = br.rows[0]
        n, log = sp[5]
        log2 = list(log)
        if replace_row is not None:
            log2[-1] = replace_row
        return br._replace(rows=((*sp[:5], [n, log2]), *br.rows[1:]))

    eng = N.Nfa(spec)
    eng.enable_payload_fold(_cap_init, _cap_fold)
    st = seed_state(eng)
    br = st.runs[0].branches[0]
    dup = diverge(br)
    assert br.rows[0][5][1] is not dup.rows[0][5][1]  # diverged object
    assert N._branch_content_key(br) == N._branch_content_key(dup)
    st.runs[0].branches.append(dup)
    ms, _ = eng.step(st, 1_000, (False, True), ("b1",))
    assert len(ms) == 1  # content-equal completions collapse

    # control: different CONTENT must NOT collapse
    eng2 = N.Nfa(spec)
    eng2.enable_payload_fold(_cap_init, _cap_fold)
    st2 = seed_state(eng2)
    br2 = st2.runs[0].branches[0]
    other = diverge(br2, replace_row=("aX", 0))
    assert N._branch_content_key(br2) != N._branch_content_key(other)
    st2.runs[0].branches.append(other)
    ms2, _ = eng2.step(st2, 1_000, (False, True), ("b1",))
    assert len(ms2) == 2

    # alternation coordinator's NO_SKIP arm applies the same dedup
    eng3 = N.Nfa(spec)
    eng3.enable_payload_fold(_cap_init, _cap_fold)
    st3 = N.NfaState()
    out = N.coordinate_alternation_row(
        [eng3], [st3], 0, [(True, False)], ("a0",), NO_SKIP
    )
    assert not out
    br3 = st3.runs[0].branches[0]
    st3.runs[0].branches.append(diverge(br3))
    out = N.coordinate_alternation_row(
        [eng3], [st3], 1_000, [(False, True)], ("b1",), NO_SKIP
    )
    assert len(out) == 1


@pytest.mark.parametrize("seed", [5, 19])
def test_streaming_all_rows_fork_heavy_matches_batch(
    spark, tmp_path, seed
):
    """Fork-heavy streaming ALL ROWS differential (round 12): with B
    NOT the complement of C, the NFA may both consume and ignore a B
    row — sibling branches share a capture-accumulator prefix and the
    round-12 shared-log copy-diverge path runs constantly. Random
    dense sequences, multi-micro-batch replay, streamed rows must
    equal batch exactly (FINAL + RUNNING)."""
    import random as _random

    from pyspark.sql import functions as F

    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )

    body = """
      PARTITION BY id ORDER BY event_time
      MEASURES FINAL COUNT(B.*) AS nb, RUNNING SUM(B.seq) AS b_run,
               RUNNING COUNT(B.*) AS nb_run
      ALL ROWS PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B* C) WITHIN INTERVAL '30' MINUTE
      DEFINE A AS cls = 1, B AS cls = 2, C AS cls = 3
    """
    rng = _random.Random(seed)
    import datetime as _dt

    rows = []
    for k in ("k1", "k2"):
        for i in range(70):
            # dense B runs with inert rows between B and C: the inert
            # rows force ignore-edges (B* survives without consuming),
            # forking branches that share capture prefixes
            cls = rng.choices((1, 2, 3, 0), weights=(2, 5, 2, 2))[0]
            rows.append(
                (
                    k,
                    _dt.datetime(2020, 5, 1, 10, 0) + _dt.timedelta(minutes=i),
                    i,
                    cls,
                )
            )
        rows.append(
            (k, _dt.datetime(2020, 5, 2, 0, 0), 999, 0)  # flush sentinel
        )
    df = spark.createDataFrame(
        rows, "id string, event_time timestamp, seq long, cls int"
    )
    batch = sorted(tuple(r) for r in match_recognize(df, body).collect())
    assert batch, seed
    src = str(tmp_path / f"forks_{seed}")
    # sequential time slices with distinct mtimes: the replay stays
    # inside the watermark (random file splits would drop late rows)
    for lo_m, hi_m in ((0, 25), (25, 50), (50, 100_000)):
        df.filter(
            (F.col("seq") >= lo_m) & (F.col("seq") < hi_m)
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = spark.readStream.schema(df.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    out = match_recognize(stream, body)
    q = (
        out.writeStream.format("memory")
        .queryName(f"forks_{seed}")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        tuple(r) for r in spark.table(f"forks_{seed}").collect()
    )
    assert got == batch, seed


def _longest_replay(spark, tmp_path, df, body, tag):
    """Time-sliced multi-micro-batch replay; returns (stream, batch)
    sorted row tuples."""
    from flink_cep_examples_spark.sql.match_recognize import (
        match_recognize,
    )
    import datetime as dtm

    from pyspark.sql import functions as F

    batch = sorted(
        map(tuple, match_recognize(df, body, tiebreak_col="event_id").collect())
    )
    src = str(tmp_path / f"lg_{tag}")
    base = dtm.datetime(2024, 1, 1)
    for lo, hi in ((0, 20), (20, 40), (40, 10**7)):
        df.filter(
            (F.col("ts") >= base + dtm.timedelta(minutes=lo))
            & (F.col("ts") < base + dtm.timedelta(minutes=hi))
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = spark.readStream.schema(df.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    out = match_recognize(stream, body, tiebreak_col="event_id")
    q = (
        out.writeStream.format("memory")
        .queryName(f"lg_{tag}")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        map(tuple, spark.table(f"lg_{tag}").collect())
    )
    return got, batch


def _longest_fixture(spark, seed, mod):
    import datetime as dtm
    import random as _r

    rng = _r.Random(seed)
    rows = []
    for u in range(3):
        for i in range(60):
            c = rng.randrange(0, mod + 1)
            rows.append(
                (u, dtm.datetime(2024, 1, 1) + dtm.timedelta(minutes=i),
                 (i * 10 + u) * mod + c)
            )
    rows.append((0, dtm.datetime(2024, 1, 2), 999_999))  # flush
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long"
    )


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_streaming_longest_all_rows_past_last_matches_batch(
    spark, tmp_path, seed
):
    """Round 12: ALL ROWS + RUNNING + MATCH_NUMBER under LONGEST
    derivation stream with SKIP PAST LAST — matches are disjoint and
    holds resolve sequentially by start (a later start can't emit
    before every earlier one is decided), so streaming emission order
    equals batch's (start, end) numbering. Multi-micro-batch replay,
    loop-group shape."""
    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES RUNNING COUNT(X.*) AS rx, RUNNING SUM(X.event_id) AS sx,
             MATCH_NUMBER() AS mn, COUNT(X.*) AS pairs
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN ((X Y)+)
    DEFINE X AS event_id % 3 = 1, Y AS event_id % 3 = 2
    """
    df = _longest_fixture(spark, seed, 3)
    got, batch = _longest_replay(spark, tmp_path, df, body, f"lp{seed}")
    assert batch and got == batch, seed


def test_streaming_longest_all_rows_within_matches_batch(
    spark, tmp_path
):
    """The watermark-boundary case the old blanket reject feared: a
    WITHIN deadline expires a held island at a watermark tick instead
    of a consuming row — emission must still come out in start order
    and value-match batch exactly."""
    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES RUNNING COUNT(X.*) AS rx, COUNT(X.*) AS pairs
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN ((X Y)+) WITHIN INTERVAL '7' MINUTE
    DEFINE X AS event_id % 3 = 1, Y AS event_id % 3 = 2
    """
    for seed in (1, 3):
        df = _longest_fixture(spark, seed, 3)
        got, batch = _longest_replay(
            spark, tmp_path, df, body, f"lw{seed}"
        )
        assert batch and got == batch, seed


def test_streaming_longest_nested_all_rows_matches_batch(
    spark, tmp_path
):
    """Nested groups (depth 2) × ALL ROWS under longest + SKIP PAST
    LAST stream too (previously the blanket longest reject)."""
    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES RUNNING COUNT(A.*) AS ra, FINAL COUNT(C.*) AS nc
    ALL ROWS PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (((A B)+ C)+)
    DEFINE A AS event_id % 4 = 1, B AS event_id % 4 = 2,
           C AS event_id % 4 = 3
    """
    df = _longest_fixture(spark, 3, 4)
    got, batch = _longest_replay(spark, tmp_path, df, body, "nst3")
    assert batch and got == batch


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_streaming_longest_all_rows_overlapping_matches_batch(
    spark, tmp_path, seed
):
    """Round 13: ALL ROWS + MATCH_NUMBER under longest with SKIP TO
    NEXT ROW — OVERLAPPING matches — streams via the start-order
    reorder hold (the former loud reject): a later start's shorter
    chain can decide while an earlier start still extends, so
    completed matches buffer by start ordinal and release only when
    no earlier start is undecided, reproducing batch's (start, end)
    numbering. Multi-micro-batch replay."""
    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES RUNNING COUNT(X.*) AS rx, MATCH_NUMBER() AS mn,
             COUNT(X.*) AS pairs
    ALL ROWS PER MATCH
    AFTER MATCH SKIP TO NEXT ROW
    PATTERN ((X Y)+)
    DEFINE X AS event_id % 3 = 1, Y AS event_id % 3 = 2
    """
    df = _longest_fixture(spark, seed, 3)
    got, batch = _longest_replay(spark, tmp_path, df, body, f"lo{seed}")
    assert batch and got == batch, seed


def test_streaming_longest_overlap_within_matches_batch(spark, tmp_path):
    """The reorder hold × WITHIN deadline: a held island expires at a
    watermark tick (not a consuming row) while later starts already
    completed — release order must still be start order."""
    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES RUNNING COUNT(X.*) AS rx, MATCH_NUMBER() AS mn,
             COUNT(X.*) AS pairs
    ALL ROWS PER MATCH
    AFTER MATCH SKIP TO NEXT ROW
    PATTERN ((X Y)+) WITHIN INTERVAL '7' MINUTE
    DEFINE X AS event_id % 3 = 1, Y AS event_id % 3 = 2
    """
    for seed in (1, 3):
        df = _longest_fixture(spark, seed, 3)
        got, batch = _longest_replay(
            spark, tmp_path, df, body, f"low{seed}"
        )
        assert batch and got == batch, seed


def test_streaming_longest_one_row_overlap_match_number(spark, tmp_path):
    """ONE ROW PER MATCH + MATCH_NUMBER under longest + SKIP TO NEXT
    (round 13): the reorder hold serves the one-row path too."""
    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES FIRST(X.ts) AS fx, MATCH_NUMBER() AS mn,
             COUNT(X.*) AS pairs
    ONE ROW PER MATCH
    AFTER MATCH SKIP TO NEXT ROW
    PATTERN ((X Y)+)
    DEFINE X AS event_id % 3 = 1, Y AS event_id % 3 = 2
    """
    for seed in (1, 2):
        df = _longest_fixture(spark, seed, 3)
        got, batch = _longest_replay(
            spark, tmp_path, df, body, f"loo{seed}"
        )
        assert batch and got == batch, seed


def test_streaming_longest_one_row_match_number_matches_batch(
    spark, tmp_path
):
    """ONE ROW PER MATCH + MATCH_NUMBER under longest + SKIP PAST
    LAST (round 12): the per-key counter rides the plain emit path —
    must equal batch's (start, end) renumbering."""
    body = """
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES FIRST(X.ts) AS fx, MATCH_NUMBER() AS mn,
             COUNT(X.*) AS pairs
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN ((X Y)+)
    DEFINE X AS event_id % 3 = 1, Y AS event_id % 3 = 2
    """
    for seed in (2, 3):
        df = _longest_fixture(spark, seed, 3)
        got, batch = _longest_replay(
            spark, tmp_path, df, body, f"or{seed}"
        )
        assert batch and got == batch, seed



def _billing_replay(spark, tmp_path, frames, name, prepare=lambda s: s):
    """Stream ``frames``, one parquet file and one micro-batch each,
    through the billing pattern with timeouts (``prepare`` edits the
    source first); returns the stream's rows and the batch operator's,
    each as sorted tuples with a NULL key as "NULL" and a NaN key as
    "NaN"."""
    from flink_cep_examples_spark.operators import match_pattern

    spec = billing_pattern(emit_timeouts=True)

    def norm(rows):
        return sorted(
            ("NULL" if r.id is None else "NaN" if r.id != r.id else r.id,
             r.alarmTriggerDatetime, r.topupDatetime, r.tag)
            for r in rows
        )

    src = tmp_path / name
    for df in frames:
        df.coalesce(1).write.mode("append").parquet(str(src))
    batch = norm(match_pattern(spark.read.parquet(str(src)), spec).collect())
    stream = prepare(
        spark.readStream.schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        match_pattern_stream(stream, spec, "6 minutes")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return norm(spark.table(name).collect()), batch


def _billing_frame(spark, rows, key_type="string", seq0=0):
    """``(id, datetime, balanceBefore, balanceAfter)`` rows; arrival
    order from ``seq0`` is the tiebreak."""
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        [(k, d, seq0 + i, float(b), float(a)) for i, (k, d, b, a) in enumerate(rows)],
        f"id {key_type}, datetime string, seq long, balanceBefore double, "
        "balanceAfter double",
    ).withColumn("event_time", F.to_timestamp("datetime"))


#: a far-future row that moves the watermark past every deadline
_FAR = "2021-01-01 00:00:00"


def test_streaming_null_and_nan_float_keys_match_batch(spark, tmp_path):
    """A ``double`` key with one alarm → top-up pair under NULL and one
    under NaN: pandas reads both keys as NaN, and NaN ≠ NaN, yet the
    stream finds the two matches batch finds, under the same keys."""
    nan = float("nan")
    df = _billing_frame(spark, [
        (None, "2020-05-01 11:00:00", 13, 9),
        (nan, "2020-05-01 11:05:00", 13, 9),
        (None, "2020-05-01 11:10:00", 9, 20),
        (nan, "2020-05-01 11:15:00", 9, 20),
        (99.0, _FAR, 5, 5),
    ], "double")
    got, batch = _billing_replay(spark, tmp_path, [df], "null_nan_keys")
    assert batch == [
        ("NULL", "2020-05-01 11:00:00", "2020-05-01 11:10:00", MATCH_TAG),
        ("NaN", "2020-05-01 11:05:00", "2020-05-01 11:15:00", MATCH_TAG),
    ]
    assert got == batch


def test_streaming_other_watermark_falls_back_and_matches_batch(
    spark, tmp_path, monkeypatch
):
    """A user watermark of 1 hour on another column makes Spark's
    watermark the minimum of the two, so a row up to an hour late still
    arrives: here an alarm that sorts before a top-up of the batch
    before. The operator must then keep the watermark as its frontier
    (no delay read from the plan) to match batch. Spark 4 allows a
    second watermark in one chain only with multiple stateful operators
    turned off."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.streaming import cep_stream

    delays = []
    read = cep_stream._frontier_delay_ms
    monkeypatch.setattr(
        cep_stream, "_frontier_delay_ms",
        lambda prepared: delays.append(read(prepared)) or delays[-1],
    )
    frames = [
        _billing_frame(spark, rows, seq0=10 * i).withColumn(
            "ingest_time", F.col("event_time")
        )
        for i, rows in enumerate([
            [("1", "2020-05-01 11:00:00", 9, 20),
             ("1", "2020-05-01 11:30:00", 20, 20)],
            [("1", "2020-05-01 10:50:00", 13, 9)],
            [("99", _FAR, 5, 5)],
        ])
    ]
    conf = "spark.sql.streaming.statefulOperator.allowMultiple"
    spark.conf.set(conf, "false")
    try:
        got, batch = _billing_replay(
            spark, tmp_path, frames, "other_watermark",
            lambda s: s.withWatermark("ingest_time", "1 hour"),
        )
    finally:
        spark.conf.unset(conf)
    assert delays == [None]
    assert batch == [
        ("1", "2020-05-01 10:50:00", "2020-05-01 11:00:00", MATCH_TAG)
    ]
    assert got == batch
