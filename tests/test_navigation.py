"""SQL:2016 PREV()/NEXT() physical-row navigation in DEFINE (round 4).

The V-shape catalog query pins PREV against a DuckDB closed form
(queries/cep.py::ORACLE_VSHAPE, 4.8k rows at sf0.01). Here: NEXT and
offset-n semantics on hand-built sequences, the run-dependent
FIRST/LAST rejection, tier gates, and the one-exchange plan claim.
"""

from __future__ import annotations

import datetime as dt

import pytest

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


def _walk(vals):
    """Balance walk rows for one key."""
    return [
        ("k1", _t(i), i, float(vals[i - 1]) if i else 50.0, float(v))
        for i, v in enumerate(vals)
    ]


def test_prev_offset_two(spark):
    """PREV(x, 2) compares against the row TWO positions back."""
    df = spark.createDataFrame(_walk([10, 20, 5, 30]), _SCHEMA)
    body = """
      PARTITION BY id ORDER BY event_time
      MEASURES D.seq AS at_seq
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (D)
      DEFINE D AS D.balanceAfter < PREV(D.balanceAfter, 2)
    """
    got = sorted(
        r.at_seq for r in match_recognize(df, body).collect()
    )
    # only row 2 (5 < 10); row 3 (30 > 20); rows 0,1 have NULL PREV2
    assert got == [2]


def test_prev_on_tie_with_null_tiebreak_reads_scan_order(spark):
    """Three rows share one timestamp and one has a NULL tiebreak. The
    NFA scans them by (ts, seq) with NULLs last — v 1, 3, 5 — so PREV()
    must read the row scanned before: both v 3 and v 5 rise."""
    df = spark.createDataFrame(
        [("k1", _t(0), 1, 1.0), ("k1", _t(0), None, 5.0), ("k1", _t(0), 2, 3.0)],
        "id string, event_time timestamp, seq long, v double",
    )
    body = """
      PARTITION BY id ORDER BY event_time, seq
      MEASURES A.v AS v
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A)
      DEFINE A AS A.v > PREV(A.v)
    """
    got = sorted(r.v for r in match_recognize(df, body).collect())
    assert got == [3.0, 5.0]
    nfa = match_recognize(df, body, use_fast_path=False).collect()
    assert sorted(r.v for r in nfa) == got


def test_next_navigation(spark):
    """NEXT(x) reads the following physical row — a 'peak' pattern
    needs no lookahead variable."""
    df = spark.createDataFrame(_walk([10, 30, 20, 40, 15]), _SCHEMA)
    body = """
      PARTITION BY id ORDER BY event_time
      MEASURES P.seq AS peak_seq
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (P)
      DEFINE P AS P.balanceAfter > PREV(P.balanceAfter)
               AND P.balanceAfter > NEXT(P.balanceAfter)
    """
    got = sorted(r.peak_seq for r in match_recognize(df, body).collect())
    assert got == [1, 3]  # 30 and 40 are local maxima


def test_first_last_in_define_fixed_offset_now_compiles():
    """Round 5: FIRST/LAST(var.col) with a pattern-fixed offset
    compiles to the PREV lag machinery (Flink IterativeCondition
    subset) instead of being rejected — here FIRST(A) is one ONCE
    variable back, i.e. lag 1."""
    spec = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time
        MEASURES A.seq AS s
        ONE ROW PER MATCH
        PATTERN (A B)
        DEFINE B AS B.balanceAfter > FIRST(A.balanceAfter)
        """
    )
    assert ("__nav_prev1_balanceAfter", "balanceAfter", 1, "prev") in spec.nav_cols
    # a variable-width gap keeps the genuinely run-dependent form out
    with pytest.raises(NotImplementedError, match="fixed-width"):
        parse_match_recognize(
            """
            PARTITION BY id ORDER BY event_time
            MEASURES A.seq AS s
            ONE ROW PER MATCH
            PATTERN (A G* B)
            DEFINE B AS B.balanceAfter > FIRST(A.balanceAfter)
            """
        )


def test_nav_disables_fast_paths():
    from flink_cep_examples_spark.operators.regex_scan import regex_plan

    spec = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time
        MEASURES A.datetime AS a_dt
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (A B* C)
        DEFINE A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
               B AS B.balanceAfter < PREV(B.balanceAfter),
               C AS C.balanceBefore < C.balanceAfter
        """
    )
    assert spec.nav_cols
    assert regex_plan(spec) is None


def test_nav_dedupes_identical_references():
    """Two predicates using PREV of the same column share one lag."""
    spec = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time
        MEASURES D.seq AS s
        ONE ROW PER MATCH
        PATTERN (D U)
        DEFINE D AS D.balanceAfter < PREV(D.balanceAfter),
               U AS U.balanceAfter > PREV(U.balanceAfter)
        """
    )
    assert len(spec.nav_cols) == 1


def test_streaming_navigation_gate(spark, tmp_path):
    """Round 13: PREV/NEXT STREAM — the operator computes nav columns
    from its own watermark-sorted buffer and evaluates the nav-gated
    predicates in-operator. The token gate keeps that evaluation
    dialect-exact: SQL outside the probed Spark≡DuckDB intersection
    raises a named NotImplementedError; an unknown column reference
    fails loud at build; streaming ALTERNATION nav stays batch-tier."""
    from flink_cep_examples_spark.streaming.cep_stream import (
        match_pattern_stream,
    )

    d = tmp_path / "in"
    d.mkdir()
    stream = spark.readStream.schema(_SCHEMA).parquet(str(d))
    spec = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time
        MEASURES D.seq AS s
        ONE ROW PER MATCH
        PATTERN (D)
        DEFINE D AS D.balanceAfter < PREV(D.balanceAfter)
        """
    )
    assert match_pattern_stream(stream, spec).isStreaming  # now streams

    gated = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time
        MEASURES D.seq AS s
        ONE ROW PER MATCH
        PATTERN (D)
        DEFINE D AS concat(id, 'x') = 'kx'
                 AND D.balanceAfter < PREV(D.balanceAfter)
        """
    )
    with pytest.raises(NotImplementedError, match="token subset"):
        match_pattern_stream(stream, gated)

    # ANSI divergence: a non-literal divisor raises in Spark on zero
    # but yields NULL in DuckDB — the gate admits only nonzero-literal
    # divisors
    div = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time
        MEASURES D.seq AS s
        ONE ROW PER MATCH
        PATTERN (D)
        DEFINE D AS D.balanceAfter / D.balanceBefore > 1
                 AND D.balanceAfter < PREV(D.balanceAfter)
        """
    )
    with pytest.raises(NotImplementedError, match="divisor"):
        match_pattern_stream(stream, div)

    alt = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time
        MEASURES A.seq AS s
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (A D | A U)
        DEFINE A AS A.balanceAfter < 10,
               D AS D.balanceAfter < PREV(D.balanceAfter),
               U AS U.balanceAfter > PREV(U.balanceAfter)
        """
    )
    assert match_pattern_stream(stream, alt).isStreaming
    gated_alt = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time
        MEASURES A.seq AS s
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (A D | A U)
        DEFINE A AS A.balanceAfter < 10,
               D AS substring(id, 1, 1) = 'k'
                AND D.balanceAfter < PREV(D.balanceAfter),
               U AS U.balanceAfter > PREV(U.balanceAfter)
        """
    )
    with pytest.raises(NotImplementedError, match="token subset"):
        match_pattern_stream(stream, gated_alt)


def _nav_walk_rows(keys=("a", "b", "c"), n=60, seed=7):
    """Random balance walks per key, CLOSED by one same-value row (both
    strict nav comparisons false — inert for V-shape/peak DEFINEs) and
    one far-future sentinel per key that flushes the watermark. Both
    closers are REAL DATA in both tiers, so batch and streaming see
    identical inputs and the final real rows' nav values resolve."""
    import random as _r

    rng = _r.Random(seed)
    rows = []
    for k in keys:
        x = 50.0
        for i in range(n):
            x += rng.uniform(-10, 10)
            rows.append(
                (k, dt.datetime(2020, 5, 1, 10, 0) + dt.timedelta(minutes=i),
                 i, 0.0, round(x, 2))
            )
        rows.append(
            (k, dt.datetime(2020, 5, 1, 10, 0) + dt.timedelta(minutes=n),
             n, 0.0, round(x, 2))  # same value: inert closer
        )
        rows.append((k, dt.datetime(2031, 1, 1), n + 1, 0.0, round(x, 2)))
    return rows


def _replay_and_compare(spark, tmp_path, body, name, keyf):
    """Batch vs multi-micro-batch streaming replay of one nav body."""
    import time

    from pyspark.sql import functions as F

    df = spark.createDataFrame(_nav_walk_rows(), _SCHEMA)
    batch = sorted(keyf(r) for r in match_recognize(
        df, body, tiebreak_col="seq"
    ).collect())
    assert batch, "test body matched nothing — broken fixture"
    src = str(tmp_path / f"nav_{name}")
    cut1 = dt.datetime(2020, 5, 1, 10, 20)
    cut2 = dt.datetime(2020, 5, 1, 10, 40)
    for part in (
        df.filter(F.col("event_time") <= F.lit(cut1)),
        df.filter(
            (F.col("event_time") > F.lit(cut1))
            & (F.col("event_time") <= F.lit(cut2))
        ),
        df.filter(F.col("event_time") > F.lit(cut2)),
    ):
        part.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = spark.readStream.schema(df.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = match_recognize(
        stream, body, tiebreak_col="seq", watermark_delay="6 minutes"
    )
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName(f"navq_{name}")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        keyf(r)
        for r in spark.sql(f"SELECT * FROM navq_{name}").collect()
    )
    assert got == batch


@pytest.mark.slow
def test_streaming_prev_vshape_matches_batch(spark, tmp_path):
    """The V-shape PREV query (the reference DEFINE shape,
    FlinkSqlMatchRecognizeExample.scala:63-66 generalized) streamed
    over three micro-batches must equal batch exactly — PREV lag
    values cross micro-batch boundaries via the per-key tail state."""
    _replay_and_compare(
        spark,
        tmp_path,
        """
        PARTITION BY id ORDER BY event_time
        MEASURES STRT.seq AS s, STRT.id AS k, COUNT(DOWN.*) AS nd,
                 UP.balanceAfter AS up_x
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN (STRT DOWN+ UP)
        DEFINE DOWN AS DOWN.balanceAfter < PREV(DOWN.balanceAfter),
               UP AS UP.balanceAfter > PREV(UP.balanceAfter)
        """,
        "vshape",
        lambda r: (r.k, r.s, r.nd, r.up_x),
    )


@pytest.mark.slow
def test_streaming_next_peak_matches_batch(spark, tmp_path):
    """NEXT lookahead streams via the one-row holdback: a row is fed
    only once its successor is watermark-eligible, and the NFA clock
    for a held key is capped at the first held row's timestamp so the
    within-deadline cannot fire before the row is fed."""
    _replay_and_compare(
        spark,
        tmp_path,
        """
        PARTITION BY id ORDER BY event_time
        MEASURES P.seq AS s, P.id AS k, P.balanceAfter AS x
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN (P Q) WITHIN INTERVAL '10' MINUTE
        DEFINE P AS P.balanceAfter > PREV(P.balanceAfter)
                 AND P.balanceAfter > NEXT(P.balanceAfter),
               Q AS Q.balanceAfter < PREV(Q.balanceAfter)
        """,
        "peak",
        lambda r: (r.k, r.s, r.x),
    )


@pytest.mark.slow
def test_streaming_nav_restart_from_checkpoint(spark, tmp_path):
    """Nav state (the round-13 4-tuple blob with the PREV tail frame)
    must survive a checkpoint restart: stop the query mid-stream —
    tails and held rows pickled — append the rest, start a NEW query
    from the SAME checkpoint, final output equals batch."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.streaming.cep_stream import (
        match_pattern_stream,
    )

    body = """
    PARTITION BY id ORDER BY event_time
    MEASURES STRT.seq AS s, STRT.id AS k, COUNT(DOWN.*) AS nd
    ONE ROW PER MATCH
    AFTER MATCH SKIP TO NEXT ROW
    PATTERN (STRT DOWN+ UP)
    DEFINE DOWN AS DOWN.balanceAfter < PREV(DOWN.balanceAfter),
           UP AS UP.balanceAfter > PREV(UP.balanceAfter)
           AND UP.balanceAfter > NEXT(UP.balanceAfter, 1) - 1000
    """
    df = spark.createDataFrame(_nav_walk_rows(n=40), _SCHEMA)
    spec = parse_match_recognize(body)  # default tiebreak_col = seq
    batch = sorted(
        (r.k, r.s, r.nd)
        for r in match_recognize(df, body, tiebreak_col="seq").collect()
    )
    assert batch

    src = tmp_path / "navsrc"
    src.mkdir()
    chk = str(tmp_path / "navchk")
    sink = str(tmp_path / "navout")
    cut = dt.datetime(2020, 5, 1, 10, 20)
    df.filter(F.col("event_time") <= F.lit(cut)).coalesce(1).write.parquet(
        str(src / "p1")
    )
    schema = spark.read.parquet(str(src / "p1")).schema

    def run_once() -> None:
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        out = match_pattern_stream(stream, spec, "6 minutes")
        q = (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()  # first half: PREV tails + NEXT holdback in the blob
    df.filter(F.col("event_time") > F.lit(cut)).coalesce(1).write.parquet(
        str(src / "p2")
    )
    run_once()  # NEW query, same checkpoint
    got = sorted(
        (r.k, r.s, r.nd) for r in spark.read.parquet(sink).collect()
    )
    assert got == [(k, s, n) for k, s, n in batch]


def test_nav_gate_dialect_intersection(spark):
    """The streaming nav gate's core claim: for every token it admits,
    Spark SQL and DuckDB agree on the predicate value (NULL→FALSE
    coalesced, the NFA-prepare convention). Differential over random
    data with NULLs across the full gated vocabulary — comparisons,
    arithmetic (true division, sign-of-dividend %), AND/OR/NOT
    three-valued logic, IS [NOT] NULL, BETWEEN, IN, ABS, string
    literals."""
    import random

    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    rng = random.Random(42)
    rows = []
    for i in range(300):
        rows.append(
            (
                i,
                rng.choice([None, rng.randint(-50, 50)]),
                rng.choice([None, round(rng.uniform(-5, 5), 3), 0.0]),
                rng.choice([None, "alpha", "beta", "g'q"]),
            )
        )
    pdf = pd.DataFrame(rows, columns=["rid", "a", "x", "s"])
    df = spark.createDataFrame(
        pdf.astype(object).where(pdf.notna(), None),
        "rid long, a long, x double, s string",
    )
    predicates = [
        "a > 3 AND x < 2.5",
        "a = 7 OR NOT (x >= 0)",
        "a % 7 = 3",
        "-a % 5 = -2",
        "a / 4 > 2.5",
        "x / 2.5 > 1",
        "a * x + 1 <= a - x",
        "a BETWEEN -10 AND 10",
        "a IN (1, 2, 3, -4)",
        "s = 'alpha'",
        "s <> 'g''q'",
        "s IS NULL",
        "x IS NOT NULL AND abs(x) > 1.5",
        "(a + 1) * 2 = a * 2 + 2",
    ]
    from flink_cep_examples_spark.streaming.cep_stream import (
        _NAV_SQL_KEYWORDS,
        _NAV_SQL_TOKEN,
    )

    con = duckdb.connect()
    con.register("t", pdf)
    for pred in predicates:
        # every test predicate must itself pass the token gate
        pos = 0
        for m in _NAV_SQL_TOKEN.finditer(pred):
            assert m.start() == pos, (pred, pos)
            pos = m.end()
        assert pos == len(pred), pred
        sp = {
            r.rid: bool(r.p)
            for r in df.select(
                "rid",
                F.coalesce(F.expr(pred).cast("boolean"), F.lit(False)).alias(
                    "p"
                ),
            ).collect()
        }
        dk = {
            int(r.rid): bool(r.p)
            for _, r in con.execute(
                f"SELECT rid, coalesce(({pred}), false) AS p FROM t"
            ).df().iterrows()
        }
        diff = {k for k in sp if sp[k] != dk[k]}
        assert not diff, (pred, sorted(diff)[:5])
    _ = _NAV_SQL_KEYWORDS  # imported to assert the gate surface exists


def test_streaming_prev_bigint_exact(spark, tmp_path):
    """Streaming nav must compare BIGINT lags EXACTLY: a plain pandas
    shift would pass int64 through float64 (NaN holes), collapsing
    values past 2**53 — 2**53 and 2**53+1 become equal and
    ``big <> PREV(big)`` silently loses the match batch finds. The
    operator shifts integer sources through nullable Int64."""
    import time

    big = 2**53
    rows = [
        ("k", dt.datetime(2020, 5, 1, 10, 0), 0, big),
        ("k", dt.datetime(2020, 5, 1, 10, 1), 1, big + 1),
        ("k", dt.datetime(2031, 1, 1), 2, big + 1),  # sentinel (equal)
    ]
    df = spark.createDataFrame(
        rows, "id string, event_time timestamp, seq long, big long"
    )
    body = """
      PARTITION BY id ORDER BY event_time
      MEASURES D.seq AS s
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (D)
      DEFINE D AS D.big <> PREV(D.big)
    """
    batch = sorted(
        r.s for r in match_recognize(df, body, tiebreak_col="seq").collect()
    )
    assert batch == [1]  # exact: 2**53+1 differs from 2**53
    src = str(tmp_path / "bigsrc")
    df.coalesce(1).write.parquet(src)
    time.sleep(0.2)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = match_recognize(
        stream, body, tiebreak_col="seq", watermark_delay="6 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("navq_bigint")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r.s for r in spark.sql("SELECT * FROM navq_bigint").collect()
    )
    assert got == batch


@pytest.mark.slow
def test_streaming_alternation_prev_matches_batch(spark, tmp_path):
    """PREV inside a streaming ALTERNATION (round 13 — the nav
    transform + the per-alternative lockstep advance cap): the
    D-run / U-run alternation over the random walks, streamed over
    three micro-batches, must equal batch exactly."""
    _replay_and_compare(
        spark,
        tmp_path,
        """
        PARTITION BY id ORDER BY event_time
        MEASURES A.seq AS s, A.id AS k, CLASSIFIER() AS cl
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (A D{2} | A U{2})
        DEFINE A AS A.balanceAfter > 0,
               D AS D.balanceAfter < PREV(D.balanceAfter),
               U AS U.balanceAfter > PREV(U.balanceAfter)
        """,
        "altprev",
        lambda r: (r.k, r.s, r.cl),
    )


@pytest.mark.slow
def test_streaming_prev_offset2_matches_batch(spark, tmp_path):
    """PREV(x, 2) — the tail keeps TWO released rows per key, so a
    lag-2 crossing a micro-batch boundary reads the right row."""
    _replay_and_compare(
        spark,
        tmp_path,
        """
        PARTITION BY id ORDER BY event_time
        MEASURES D.seq AS s, D.id AS k
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN (D)
        DEFINE D AS D.balanceAfter < PREV(D.balanceAfter, 2)
        """,
        "prev2",
        lambda r: (r.k, r.s),
    )


def test_nav_window_reuses_pattern_exchange(spark, sf_small):
    """The lag window partitions on the same keys the pattern operator
    shuffles on — the plan must carry exactly ONE hash exchange."""
    from flink_cep_examples_spark.queries import QUERIES, load_all

    load_all()
    plan = (
        QUERIES["cep_vshape_prev"](spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_alternation_with_navigation(spark):
    """PREV() inside an alternation's DEFINE must materialize on the
    coordinator path (regression: unresolved __nav column)."""
    df = spark.createDataFrame(_walk([10, 5, 3, 20, 30]), _SCHEMA)
    body = """
      PARTITION BY id ORDER BY event_time
      MEASURES A.seq AS s, CLASSIFIER() AS c
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A D{2} | A U)
      DEFINE A AS A.balanceAfter < 10,
             D AS D.balanceAfter < PREV(D.balanceAfter),
             U AS U.balanceAfter > PREV(U.balanceAfter)
    """
    got = sorted(
        (r.s, r.c) for r in match_recognize(df, body).collect()
    )
    # row1 (ba=5) is A; rows 2 is D (3<5) but row3 is U -> D{2} fails,
    # U-branch: A at 1, U at 2? 3<5 no. A at 2 (ba=3): U at 3 (20>3).
    assert got == [(2, "U")]


def test_permute_rejects_extended_measure_fns():
    from flink_cep_examples_spark.sql.match_recognize import (
        parse_match_recognize,
    )

    with pytest.raises(NotImplementedError, match="PERMUTE measures"):
        parse_match_recognize(
            """
            PARTITION BY id ORDER BY event_time
            MEASURES CLASSIFIER() AS c
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (PERMUTE (A, B))
            DEFINE A AS fa, B AS fb
            """
        )
    with pytest.raises(NotImplementedError, match="PERMUTE measures"):
        parse_match_recognize(
            """
            PARTITION BY id ORDER BY event_time
            MEASURES COUNT(A.balanceAfter) AS n
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (PERMUTE (A, B))
            DEFINE A AS fa, B AS fb
            """
        )


def test_explicit_order_tiebreak_not_clobbered():
    """ORDER BY ts, seq with a caller tiebreak parameter: the SQL's
    explicit second key wins (flag-based, not the 'seq' sentinel)."""
    import dataclasses

    from flink_cep_examples_spark.sql.match_recognize import (
        parse_match_recognize,
    )

    spec = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time, seq
        MEASURES A.seq AS s
        ONE ROW PER MATCH
        PATTERN (A)
        DEFINE A AS fa
        """
    )
    assert spec.explicit_tiebreak and spec.tiebreak_col == "seq"
    implicit = parse_match_recognize(
        """
        PARTITION BY id ORDER BY event_time
        MEASURES A.seq AS s
        ONE ROW PER MATCH
        PATTERN (A)
        DEFINE A AS fa
        """
    )
    assert not implicit.explicit_tiebreak


# ---------------------------------------------------------------------------
# FIRST/LAST in DEFINE (round 5 — Flink IterativeCondition subset)


def test_define_last_compiles_to_lag(spark):
    """A B+ C with C AS x > LAST(B.x) * 1.2 — LAST(B) is the row
    directly before C (the loop ends there), so the reference compiles
    to the PREV lag-1 column and the predicate stays vectorized."""
    import datetime as dt

    from flink_cep_examples_spark.sql.match_recognize import match_recognize

    vals = [10.0, 8.0, 6.0, 7.5, 12.0, 9.0, 11.0]
    rows = [
        ("k", dt.datetime(2020, 5, 1, 11, 0) + dt.timedelta(minutes=i), i, v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "id string, event_time timestamp, seq long, x double"
    )
    out = match_recognize(df, """
      PARTITION BY id ORDER BY event_time
      MEASURES FIRST(A.seq) AS s, LAST(B.x) AS last_b, LAST(C.seq) AS e
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B+ C)
      DEFINE A AS x >= 10,
             B AS x < PREV(x),
             C AS x > LAST(B.x) * 1.2
    """)
    got = sorted((r.s, r.last_b, r.e) for r in out.collect())
    # 10,8,6 then 7.5 (> 6*1.2); 12,9 then 11 (> 10.8)
    assert got == [(0, 6.0, 3), (4, 9.0, 6)]


def test_define_first_fixed_offset(spark):
    """FIRST(A.x) two fixed-width variables back compiles to lag-2."""
    import datetime as dt

    from flink_cep_examples_spark.sql.match_recognize import match_recognize

    vals = [10.0, 8.0, 11.0, 4.0, 5.0, 3.0]
    rows = [
        ("k", dt.datetime(2020, 5, 1, 11, 0) + dt.timedelta(minutes=i), i, v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "id string, event_time timestamp, seq long, x double"
    )
    out = match_recognize(df, """
      PARTITION BY id ORDER BY event_time
      MEASURES FIRST(A.seq) AS s
      ONE ROW PER MATCH
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (A B C)
      DEFINE B AS x < LAST(A.x),
             C AS x > FIRST(A.x)
    """)
    # start 0: B=8<10, C=11>10 -> match; start 2: B=4<11, C=5>11? no;
    # start 3: B... 5<4? no
    assert [r.s for r in out.collect()] == [0]


def test_define_iterative_rejections():
    import pytest

    from flink_cep_examples_spark.sql.match_recognize import (
        parse_match_recognize,
    )

    head = (
        "PARTITION BY id ORDER BY event_time "
        "MEASURES FIRST(A.seq) AS s ONE ROW PER MATCH "
    )
    cases = [
        ("PATTERN (A B+ C) DEFINE C AS x > FIRST(B.x)", "fixed-width"),
        ("PATTERN (A B) DEFINE A AS x > LAST(B.x)", "EARLIER"),
        ("PATTERN (A C | A B) DEFINE C AS x > LAST(A.x)", "single-alternative"),
        ("PATTERN (A B+ C) DEFINE B AS x < LAST(A.x)", "single-row"),
        ("PATTERN (A B? C) DEFINE C AS x > LAST(A.x)", "fixed-width"),
        ("PATTERN (A (X Y)+ C) DEFINE C AS x > LAST(A.x)", "loop group"),
    ]
    for body, msg in cases:
        with pytest.raises(NotImplementedError, match=msg):
            parse_match_recognize(head + body)
