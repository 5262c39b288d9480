"""One tier table for row-pattern matching.

Every front-end picks its operator here: the SQL ``MATCH_RECOGNIZE``
front-end, Pattern DSL users (``run_pattern(df, spec)``) and the query
catalog. ``TIERS`` lists the compiled batch kernels of
operators/fast_path.py in preference order; each row is
``(name, applies(spec, df), build(df, spec))``. ``applies`` holds the
structural check AND any data check the kernel needs before it is exact
on this input, so no kernel runs without its checks. When no row
applies, or the caller asks for the reference (``use_fast_path=False``),
the one ``REFERENCE`` row serves the spec: the batch NFA operator
(operators/cep_batch.py::match_pattern), which runs PERMUTE as the
alternation of its orderings. A streaming ``df`` runs the one streaming
operator (streaming/cep_stream.py).
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
    check_permute,
    fast_absence_applicable,
    fast_alternation_applicable,
    fast_branch_all_rows_applicable,
    fast_group_absence_applicable,
    fast_group_preds_disjoint,
    fast_loop_chain_all_rows_applicable,
    fast_loop_chain_applicable,
    fast_mixed_branch_applicable,
    fast_nested3_chain_applicable,
    fast_nested_chain_all_rows_applicable,
    fast_nested_chain_applicable,
    fast_positional_applicable,
    fast_star_chain_applicable,
    loop_chain_agg_needs_disjoint,
    match_pattern_alternation_fast,
    match_pattern_fast_absence,
    match_pattern_fast_branch_all_rows,
    match_pattern_fast_group_absence,
    match_pattern_fast_loop_chain,
    match_pattern_fast_loop_chain_all_rows,
    match_pattern_fast_mixed_branch,
    match_pattern_fast_nested3_chain,
    match_pattern_fast_nested_chain,
    match_pattern_fast_nested_chain_all_rows,
    match_pattern_fast_positional,
    match_pattern_fast_star_chain,
    match_pattern_permute,
)
from flink_cep_examples_spark.plans.pattern import (
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


def _nfa(df: DataFrame, spec: Spec) -> DataFrame:
    """The NFA reference. PERMUTE runs as the alternation of its
    orderings in lexicographic order (the alternation's leftmost
    preference), as on the stream, plus the ``tag`` column of the
    single-pattern output schema."""
    if _shape(spec) != "permute":
        return match_pattern(df, spec)
    check_permute(spec)
    return match_pattern(df, permute_to_alternation(spec)).withColumn(
        "tag", F.lit(MATCH_TAG)
    )


def _alternation(check):
    return lambda s, df: _shape(s) == "alternation" and check(s)


def _all_rows(check):
    # the ALL ROWS kernels also gate on the source columns' dtypes
    return lambda s, df: _shape(s) == "all_rows" and check(s, df)


def _one_row(check):
    return lambda s, df: _shape(s) == "one_row" and check(s)


def _loop_chain_applies(spec: PatternSpec, df: DataFrame) -> bool:
    # branch-group aggregates select rows by predicate, exact only under
    # data-verified group-predicate disjointness; on a violation the NFA
    # classify path raises its named ambiguity reject
    return (
        _shape(spec) == "one_row"
        and fast_loop_chain_applicable(spec)
        and (
            not loop_chain_agg_needs_disjoint(spec)
            or fast_group_preds_disjoint(df, spec)
        )
    )


#: compiled kernels, first applicable row wins
TIERS: tuple[Tier, ...] = (
    # greedy (X..Y)* with a suffix: ONE chain-kernel pass instead of the
    # lockstep coordinator of two NFAs
    Tier("star_chain", _alternation(fast_star_chain_applicable),
         match_pattern_fast_star_chain),
    Tier("alternation", _alternation(fast_alternation_applicable),
         match_pattern_alternation_fast),
    # ALL ROWS PER MATCH: islands kernel, two-level chain, chain kernel
    Tier("branch_all_rows", _all_rows(fast_branch_all_rows_applicable),
         match_pattern_fast_branch_all_rows),
    Tier("nested_chain_all_rows",
         _all_rows(fast_nested_chain_all_rows_applicable),
         match_pattern_fast_nested_chain_all_rows),
    Tier("loop_chain_all_rows", _all_rows(fast_loop_chain_all_rows_applicable),
         match_pattern_fast_loop_chain_all_rows),
    # ONE ROW PER MATCH
    Tier("absence", _one_row(fast_absence_applicable),
         match_pattern_fast_absence),
    Tier("group_absence", _one_row(fast_group_absence_applicable),
         match_pattern_fast_group_absence),
    Tier("mixed_branch", _one_row(fast_mixed_branch_applicable),
         match_pattern_fast_mixed_branch),
    Tier("nested3_chain", _one_row(fast_nested3_chain_applicable),
         match_pattern_fast_nested3_chain),
    Tier("nested_chain", _one_row(fast_nested_chain_applicable),
         match_pattern_fast_nested_chain),
    Tier("loop_chain", _loop_chain_applies, match_pattern_fast_loop_chain),
    Tier("positional", _one_row(fast_positional_applicable),
         match_pattern_fast_positional),
    Tier("permute", lambda s, df: _shape(s) == "permute",
         match_pattern_permute),
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
