"""Round-8 grouped-pattern surface — the features round 7 still
rejected loudly, each on a tiny synthetic event log with a printed
result (no arguments needed):

1. NESTED unbounded groups ``(((A B)+ C)+)`` — units of (A B)-pairs
   closed by C, repeated; one maximal outer match per chain
   (the regex tier matches ``(?:(?:ab)+c)+`` over the row
   symbols);
2. alternation INSIDE an unbounded group ``((A B | C D)+)`` — one
   branch per iteration, any-branch loop-back (the regex tier's
   ``(?:ab|cd)+``);
3. the TIMEOUT side channel composed with a loop group —
   ``((X Y)+ Z) WITHIN`` + ``emit_timeouts``: a chain that never
   meets its Z inside the deadline emits a ``tag='timeout'`` row
   carrying the partial's measures (the reference's absence
   side-output, FlinkCEPAbsenceOfEventExample.scala:93-103, on the
   grouped pattern family);
4. RUNNING measures over a loop group under ALL ROWS PER MATCH —
   per-row prefix counts/sums walking the variable's stride-L
   actual rows;
5. (round 10) MIXED-WIDTH branches ``((A | C D)+)`` — iteration
   length depends on the branch chosen (the regex tier's ``(?:a|cd)+``);
6. (round 10) ALL ROWS over a mixed-width branch group — per-row
   CLASSIFIER reconstructed from the branch predicates;
7. (round 10) aggregates over nested-group variables —
   ``SUM(A.event_id)`` where A's rows have no fixed stride.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from _common import session

BASE = datetime(2020, 5, 1, 12, 0, 0)


def events(spark, classes):
    return spark.createDataFrame(
        [
            (1, BASE + timedelta(minutes=i), c)
            for i, c in enumerate(classes)
        ],
        "user_id long, ts timestamp, event_id long",
    )


def main() -> None:
    spark = session()
    from flink_cep_examples_spark.sql.match_recognize import match_recognize

    print("== 1. nested groups (((A B)+ C)+ — a b a b c a b c is ONE match ==")
    df = events(spark, [1, 2, 1, 2, 3, 1, 2, 3, 0, 1, 2, 3])
    match_recognize(
        df,
        """
        PARTITION BY user_id ORDER BY ts, event_id
        MEASURES FIRST(A.ts) AS start_ts, LAST(C.ts) AS end_ts,
                 COUNT(A.*) AS pairs, COUNT(C.*) AS units
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (((A B)+ C)+)
        DEFINE A AS event_id = 1, B AS event_id = 2, C AS event_id = 3
        """,
        tiebreak_col="event_id",
    ).orderBy("start_ts").show(truncate=False)

    print("== 2. branch-per-iteration ((A B | C D)+) — a b c d a b chains ==")
    df = events(spark, [1, 2, 3, 4, 1, 2, 0, 3, 4])
    match_recognize(
        df,
        """
        PARTITION BY user_id ORDER BY ts, event_id
        MEASURES FIRST(U.ts) AS start_ts, LAST(U.ts) AS end_ts,
                 COUNT(A.*) AS ab_iters, COUNT(C.*) AS cd_iters
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN ((A B | C D)+)
        SUBSET U = (A, B, C, D)
        DEFINE A AS event_id = 1, B AS event_id = 2,
               C AS event_id = 3, D AS event_id = 4
        """,
        tiebreak_col="event_id",
    ).orderBy("start_ts").show(truncate=False)

    print("== 3. timeout channel x loop group ((X Y)+ Z) WITHIN 30 min ==")
    # user chain x y x y then silence: the partial times out;
    # a second chain meets its z in time: match
    df = spark.createDataFrame(
        [
            (1, BASE + timedelta(minutes=0), 1),
            (1, BASE + timedelta(minutes=1), 2),
            (1, BASE + timedelta(minutes=2), 1),
            (1, BASE + timedelta(minutes=3), 2),
            (1, BASE + timedelta(minutes=90), 0),  # deadline passes
            (2, BASE + timedelta(minutes=0), 1),
            (2, BASE + timedelta(minutes=1), 2),
            (2, BASE + timedelta(minutes=5), 3),  # z inside deadline
        ],
        "user_id long, ts timestamp, event_id long",
    )
    match_recognize(
        df,
        """
        PARTITION BY user_id ORDER BY ts, event_id
        MEASURES FIRST(X.ts) AS first_x, LAST(Z.ts) AS z_at,
                 COUNT(X.*) AS pairs
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN ((X Y)+ Z) WITHIN INTERVAL '30' MINUTE
        DEFINE X AS event_id = 1, Y AS event_id = 2, Z AS event_id = 3
        """,
        tiebreak_col="event_id",
        emit_timeouts=True,
    ).orderBy("user_id", "first_x").show(truncate=False)

    print("== 4. RUNNING measures x loop-group ALL ROWS ((X Y)+) ==")
    df = events(spark, [1, 2, 1, 2])
    match_recognize(
        df,
        """
        PARTITION BY user_id ORDER BY ts, event_id
        MEASURES RUNNING COUNT(X.*) AS x_so_far,
                 COUNT(X.*) AS pairs
        ALL ROWS PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN ((X Y)+)
        DEFINE X AS event_id = 1, Y AS event_id = 2
        """,
        tiebreak_col="event_id",
    ).orderBy("ts").select(
        "ts", "event_id", "classifier", "x_so_far", "pairs"
    ).show(truncate=False)

    print("== 5. mixed-width branches ((A | C D)+) — a c d a chains ==")
    df = events(spark, [1, 3, 4, 1, 0, 3, 4])
    match_recognize(
        df,
        """
        PARTITION BY user_id ORDER BY ts, event_id
        MEASURES FIRST(U.ts) AS start_ts, LAST(U.ts) AS end_ts,
                 COUNT(A.*) AS a_iters, COUNT(C.*) AS cd_iters
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN ((A | C D)+)
        SUBSET U = (A, C, D)
        DEFINE A AS event_id = 1, C AS event_id = 3, D AS event_id = 4
        """,
        tiebreak_col="event_id",
    ).orderBy("start_ts").show(truncate=False)

    print("== 6. ALL ROWS x mixed-width branches — per-row classifier ==")
    df = events(spark, [1, 3, 4, 1])
    match_recognize(
        df,
        """
        PARTITION BY user_id ORDER BY ts, event_id
        MEASURES COUNT(A.*) AS a_iters
        ALL ROWS PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN ((A | C D)+)
        DEFINE A AS event_id = 1, C AS event_id = 3, D AS event_id = 4
        """,
        tiebreak_col="event_id",
    ).orderBy("ts").select(
        "ts", "event_id", "classifier", "match_seq", "a_iters"
    ).show(truncate=False)

    print("== 7. aggregates over nested-group vars (((A B)+ C)+) ==")
    df = spark.createDataFrame(
        [
            (1, BASE + timedelta(minutes=i), e)
            for i, e in enumerate([1, 2, 5, 6, 3, 1, 2, 3])
        ],
        "user_id long, ts timestamp, event_id long",
    )
    match_recognize(
        df,
        """
        PARTITION BY user_id ORDER BY ts, event_id
        MEASURES SUM(A.event_id) AS sum_a, MAX(C.event_id) AS max_c,
                 COUNT(A.*) AS pairs
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (((A B)+ C)+)
        DEFINE A AS event_id % 4 = 1, B AS event_id % 4 = 2,
               C AS event_id % 4 = 3
        """,
        tiebreak_col="event_id",
    ).orderBy("sum_a").show(truncate=False)

    print("== 8. round 12: RUNNING series over branch-group vars ==")
    # per-row running count/sum over predicate-classified rows —
    # compiled on the islands ALL-ROWS kernel as segmented per-island
    # series (the NFA classify path measured 6.4x at 10x, the kernel
    # 1.22x); RUNNING MIN/MAX and SUBSET unions compile too
    df = spark.createDataFrame(
        [
            (1, BASE + timedelta(minutes=i), e)
            for i, e in enumerate([1, 3, 4, 1, 0, 3, 4, 1])
        ],
        "user_id long, ts timestamp, event_id long",
    )
    match_recognize(
        df,
        """
        PARTITION BY user_id ORDER BY ts, event_id
        MEASURES RUNNING COUNT(A.*) AS a_so_far,
                 RUNNING MAX(W.event_id) AS max_w_so_far,
                 COUNT(C.*) AS n_cd
        ALL ROWS PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN ((A | C D)+)
        SUBSET W = (A, D)
        DEFINE A AS event_id = 1, C AS event_id = 3, D AS event_id = 4
        """,
        tiebreak_col="event_id",
    ).orderBy("ts").select(
        "ts", "event_id", "classifier", "match_seq",
        "a_so_far", "max_w_so_far", "n_cd",
    ).show(truncate=False)


if __name__ == "__main__":
    main()
