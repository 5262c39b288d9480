"""One tier table for row-pattern matching.

Every front-end picks its operator here: the SQL ``MATCH_RECOGNIZE``
front-end, Pattern DSL users (``run_pattern(df, spec)``) and the query
catalog. ``TIERS`` lists the specialised batch operators in preference
order; each row is ``(name, applies(spec, df), build(df, spec))``.
``applies`` holds the structural check AND any data check the operator
needs before it is exact on this input, so none runs without its checks.
Five rows are the compiled kernels of operators/fast_path.py (two ALL
ROWS chain kernels, timed absence, group absence, and the positional
closed form, which matches dense all-true fixed-width patterns by row
arithmetic in one window, with no Python scan); the last, ``regex``, is
the batch NFA operator with a C-speed ``re`` matcher
(operators/regex_scan.py), for every shape where regex preferment is
provably the NFA's. When no row applies, or the caller asks for the
reference (``use_fast_path=False``), the one ``REFERENCE`` row serves
the spec: the batch NFA operator (operators/cep_batch.py::match_pattern),
which runs PERMUTE as the alternation of its orderings. A streaming
``df`` runs the one streaming operator (streaming/cep_stream.py).
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_cep_examples_spark.operators.cep_batch import (
    match_pattern,
    rows_per_match,
)
from flink_cep_examples_spark.operators.fast_path import (
    fast_absence_applicable,
    fast_branch_all_rows_applicable,
    fast_group_absence_applicable,
    fast_loop_chain_all_rows_applicable,
    fast_positional_applicable,
    match_pattern_fast_absence,
    match_pattern_fast_branch_all_rows,
    match_pattern_fast_group_absence,
    match_pattern_fast_loop_chain_all_rows,
    match_pattern_fast_positional,
)
from flink_cep_examples_spark.operators.regex_scan import (
    match_pattern_regex,
    regex_plan,
)
from flink_cep_examples_spark.plans.pattern import (
    NO_SKIP,
    SKIP_TO_NEXT,
    AlternationSpec,
    PatternSpec,
    permute_to_alternation,
)
from flink_cep_examples_spark.schemas import MATCH_TAG

Spec = PatternSpec | AlternationSpec


class Tier(NamedTuple):
    name: str
    applies: Callable[[Spec, DataFrame], bool]
    build: Callable[[DataFrame, Spec], DataFrame]


def _shape(spec: Spec) -> str:
    """The operator family of ``spec``: "alternation",
    "alternation_all_rows", "permute", "all_rows" or "one_row"."""
    all_rows = rows_per_match(spec) == "all"
    if isinstance(spec, AlternationSpec):
        return "alternation_all_rows" if all_rows else "alternation"
    if spec.permute:
        return "permute"
    return "all_rows" if all_rows else "one_row"


def _check_permute(spec: PatternSpec) -> None:
    """Raise unless batch PERMUTE serves ``spec``: no PREV/NEXT, SKIP
    TO NEXT ROW (or NO_SKIP), ONE ROW PER MATCH without timeouts."""
    if spec.nav_cols:
        raise NotImplementedError("PREV/NEXT navigation with PERMUTE")
    if spec.after_match not in (SKIP_TO_NEXT, NO_SKIP):
        raise NotImplementedError(
            "PERMUTE supports AFTER MATCH SKIP TO NEXT ROW only (other "
            "resumption strategies need sequential selection over "
            "non-dense candidates — NFA alternation, not implemented)"
        )
    if spec.emit_timeouts or spec.rows_per_match != "one":
        raise NotImplementedError(
            "PERMUTE supports ONE ROW PER MATCH without timeouts"
        )


def _nfa(df: DataFrame, spec: Spec) -> DataFrame:
    """The NFA reference. PERMUTE runs as the alternation of its
    orderings in lexicographic order (the alternation's leftmost
    preference), as on the stream, plus the ``tag`` column of the
    single-pattern output schema."""
    if _shape(spec) != "permute":
        return match_pattern(df, spec)
    _check_permute(spec)
    return match_pattern(df, permute_to_alternation(spec)).withColumn(
        "tag", F.lit(MATCH_TAG)
    )


def _all_rows(check):
    # the ALL ROWS kernels also gate on the source columns' dtypes
    return lambda s, df: _shape(s) == "all_rows" and check(s, df)


def _one_row(check):
    return lambda s, df: _shape(s) == "one_row" and check(s)


#: specialised operators, first applicable row wins
TIERS: tuple[Tier, ...] = (
    # ALL ROWS PER MATCH with RUNNING series: islands and chain kernels
    Tier("branch_all_rows", _all_rows(fast_branch_all_rows_applicable),
         match_pattern_fast_branch_all_rows),
    Tier("loop_chain_all_rows", _all_rows(fast_loop_chain_all_rows_applicable),
         match_pattern_fast_loop_chain_all_rows),
    # timeouts and absence: partial matches a regex does not report
    Tier("absence", _one_row(fast_absence_applicable),
         match_pattern_fast_absence),
    Tier("group_absence", _one_row(fast_group_absence_applicable),
         match_pattern_fast_group_absence),
    # dense all-true fixed-width shapes: one window, no Python scan
    Tier("positional", _one_row(fast_positional_applicable),
         match_pattern_fast_positional),
    Tier("regex", lambda s, df: regex_plan(s) is not None, match_pattern_regex),
)

#: the reference operator: every spec the kernels decline
REFERENCE: tuple[Tier, ...] = (Tier("nfa", lambda s, df: True, _nfa),)


def choose_tier(df: DataFrame, spec: Spec, use_fast_path: bool = True) -> Tier:
    """The first row of ``TIERS`` (skipped when ``use_fast_path`` is
    False), then of ``REFERENCE``, whose check passes on ``spec`` and
    ``df``. A data check may run one short Spark job."""
    rows = (TIERS + REFERENCE) if use_fast_path else REFERENCE
    return next(t for t in rows if t.applies(spec, df))


def run_pattern(
    df: DataFrame,
    spec: Spec,
    use_fast_path: bool = True,
    watermark_delay: str = "6 minutes",
) -> DataFrame:
    """Match ``spec`` on ``df`` with the operator ``choose_tier`` picks,
    or, for a streaming ``df``, with the streaming operator
    (``watermark_delay`` bounds its out-of-orderness). The output schema
    is the chosen operator's: keys, measures and ``tag`` for ONE ROW PER
    MATCH, no ``tag`` for alternations, every input column plus
    ``classifier``, ``match_seq`` and measures for ALL ROWS PER MATCH."""
    shape = _shape(spec)
    if df.isStreaming:
        from flink_cep_examples_spark.streaming.cep_stream import (
            match_pattern_stream,
        )

        if shape == "permute":
            # the stream's alternation coordinator serves PERMUTE: one
            # alternative per ordering, leftmost = lexicographic preference
            if spec.emit_timeouts:
                raise ValueError("PERMUTE has no timeout channel")
            spec = permute_to_alternation(spec)
        return match_pattern_stream(df, spec, watermark_delay=watermark_delay)
    if shape == "all_rows" and spec.emit_timeouts:
        raise ValueError("ALL ROWS PER MATCH has no timeout channel")
    return choose_tier(df, spec, use_fast_path).build(df, spec)
