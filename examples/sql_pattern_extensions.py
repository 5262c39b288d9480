"""SQL:2016 row-pattern features beyond the reference's subset
(engine extensions, through the tier table: compiled kernels where one
applies, the NFA tier otherwise):

1. ALL ROWS PER MATCH with ``{- B* -}`` exclusion — per-row output,
   loop rows omitted;
2. ``PATTERN (PERMUTE (B, C))`` — any-order matching under
   AFTER MATCH SKIP TO NEXT ROW, lexicographic binding preference
   (the golden fixture's B at 11:20 / C at 11:40 match in B-C order;
   a C-B order would match the same pattern);
3. ``AFTER MATCH SKIP TO LAST B`` on a dense fixed-width pattern —
   the positional fast path (row-ordinal arithmetic);
4. (round 4) top-level alternation ``(A C | A B{2})`` — one NFA per
   alternative in lockstep, leftmost-preferred;
5. (round 4) aggregate MEASURES + CLASSIFIER() + MATCH_NUMBER() +
   SUBSET union variables;
6. (round 5) UNBOUNDED group quantifier ``(D E)+`` — a true sub-NFA
   loop (PatternSpec.loop_groups): PAIRS of balance drops repeated any
   number of times, terminated by a top-up;
7. (round 7) GREEDY star ``(D U)* C`` — SQL:2016 most-iterations
   preferment via leftmost alternation with coordinator-held longest;
8. (round 7) ALL ROWS PER MATCH over a loop group ``(D U)+`` —
   per-row CLASSIFIER reconstructed positionally (stride-L spans).
"""

import sys

from _common import input_df, session

from flink_cep_examples_spark.sql import sql_with_match_recognize

EXCLUSION = """
SELECT * FROM billing MATCH_RECOGNIZE (
  PARTITION BY id
  ORDER BY event_time
  MEASURES
    A.datetime AS alarmTriggerDatetime,
    C.datetime AS topupDatetime
  ALL ROWS PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A {- B* -} C) WITHIN INTERVAL '1' HOUR
  DEFINE
    A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
    B AS B.balanceBefore >= B.balanceAfter,
    C AS C.balanceBefore < C.balanceAfter
) t
"""

PERMUTE = """
SELECT * FROM billing MATCH_RECOGNIZE (
  PARTITION BY id
  ORDER BY event_time
  MEASURES
    B.datetime AS drainDatetime,
    C.datetime AS topupDatetime
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (PERMUTE (B, C)) WITHIN INTERVAL '1' HOUR
  DEFINE
    B AS B.balanceBefore >= B.balanceAfter,
    C AS C.balanceBefore < C.balanceAfter
) t
"""


ALTERNATION = """
SELECT * FROM billing MATCH_RECOGNIZE (
  PARTITION BY id
  ORDER BY event_time
  MEASURES
    A.datetime AS alarmDatetime,
    CLASSIFIER() AS outcome
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (A C | A B{2})
  DEFINE
    A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
    B AS B.balanceBefore >= B.balanceAfter,
    C AS C.balanceBefore < C.balanceAfter
) t
"""

AGG_MEASURES = """
SELECT * FROM billing MATCH_RECOGNIZE (
  PARTITION BY id
  ORDER BY event_time
  MEASURES
    A.datetime AS alarmDatetime,
    SUM(B.balanceAfter) AS sum_b,
    COUNT(B.*) AS n_b,
    LAST(U.balanceAfter) AS final_balance,
    MATCH_NUMBER() AS match_no
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A B* C) WITHIN INTERVAL '1' HOUR
  SUBSET U = (A, C)
  DEFINE
    A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
    B AS B.balanceBefore >= B.balanceAfter,
    C AS C.balanceBefore < C.balanceAfter
) t
"""


UNBOUNDED_GROUP = """
SELECT * FROM billing MATCH_RECOGNIZE (
  PARTITION BY id
  ORDER BY event_time
  MEASURES
    FIRST(D.datetime) AS firstDownDatetime,
    COUNT(D.*) AS n_drop_pairs,
    U.datetime AS topupDatetime
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN ((D E)+ U)
  DEFINE
    D AS D.balanceBefore > D.balanceAfter,
    E AS E.balanceBefore > E.balanceAfter,
    U AS U.balanceBefore < U.balanceAfter
) t
"""


GREEDY_GROUP = """
SELECT * FROM billing MATCH_RECOGNIZE (
  PARTITION BY id
  ORDER BY event_time
  MEASURES
    FIRST(D.datetime) AS zigStart,
    COUNT(D.*) AS n_down
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN ((D U){1,2})
  DEFINE
    D AS D.balanceAfter < D.balanceBefore,
    U AS U.balanceAfter > U.balanceBefore
) t
"""

STAR_GREEDY = """
SELECT * FROM billing MATCH_RECOGNIZE (
  PARTITION BY id
  ORDER BY event_time
  MEASURES
    A.datetime AS alarmDatetime,
    COUNT(D.*) AS n_pairs,
    C.datetime AS topupDatetime
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (A (D U)* C)
  DEFINE
    A AS A.balanceBefore >= 10 AND A.balanceAfter < 10,
    D AS D.balanceBefore >= D.balanceAfter,
    U AS U.balanceBefore >= U.balanceAfter,
    C AS C.balanceBefore < C.balanceAfter
) t
"""

LOOP_ALL_ROWS = """
SELECT * FROM billing MATCH_RECOGNIZE (
  PARTITION BY id
  ORDER BY event_time
  MEASURES COUNT(D.*) AS n_pairs
  ALL ROWS PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN ((D U)+)
  DEFINE
    D AS D.balanceBefore > D.balanceAfter,
    U AS U.balanceBefore > U.balanceAfter
) t
"""

GROUP_ALTERNATION = """
SELECT * FROM billing MATCH_RECOGNIZE (
  PARTITION BY id
  ORDER BY event_time
  MEASURES
    COUNT(D.*) AS n_down,
    COUNT(U.*) AS n_up,
    CLASSIFIER() AS cls
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN ((D | U){2})
  DEFINE
    D AS D.balanceAfter < D.balanceBefore,
    U AS U.balanceAfter > U.balanceBefore
) t
"""


def main() -> None:
    spark = session()
    df = input_df(spark, sys.argv)
    print("-- ALL ROWS PER MATCH with {- B* -} exclusion --")
    sql_with_match_recognize(spark, EXCLUSION, {"billing": df}).show(
        truncate=False
    )
    print("-- PERMUTE (B, C), SKIP TO NEXT ROW --")
    sql_with_match_recognize(spark, PERMUTE, {"billing": df}).show(
        truncate=False
    )
    print("-- alternation (A C | A B{2}) with CLASSIFIER() --")
    sql_with_match_recognize(spark, ALTERNATION, {"billing": df}).show(
        truncate=False
    )
    print("-- aggregate MEASURES + SUBSET + MATCH_NUMBER() --")
    sql_with_match_recognize(spark, AGG_MEASURES, {"billing": df}).show(
        truncate=False
    )
    print("-- UNBOUNDED group quantifier (D E)+ U (sub-NFA loop) --")
    sql_with_match_recognize(spark, UNBOUNDED_GROUP, {"billing": df}).show(
        truncate=False
    )
    print("-- GREEDY ranged group (D U){1,2} — SQL:2016 leftmost derivation --")
    sql_with_match_recognize(spark, GREEDY_GROUP, {"billing": df}).show(
        truncate=False
    )
    print("-- alternation INSIDE a group (D | U){2}: two consecutive moves --")
    sql_with_match_recognize(spark, GROUP_ALTERNATION, {"billing": df}).show(
        truncate=False
    )
    print("-- GREEDY star A (D U)* C — most-iterations preferment --")
    sql_with_match_recognize(spark, STAR_GREEDY, {"billing": df}).show(
        truncate=False
    )
    print("-- ALL ROWS over a loop group (D U)+ — positional classifier --")
    sql_with_match_recognize(spark, LOOP_ALL_ROWS, {"billing": df}).show(
        truncate=False
    )


if __name__ == "__main__":
    main()
