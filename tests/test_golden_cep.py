"""Golden end-to-end acceptance tests (SURVEY §5 strategy #1).

Reproduce the reference fixtures exactly: the CEP pattern over
input-data.csv must yield expected-output.csv (matches) and
expected-side-output.csv (timeouts), on every batch execution path.
"""

from __future__ import annotations

import pytest

from flink_cep_examples_spark.operators.cep_batch import match_pattern
from flink_cep_examples_spark.operators.planner import run_pattern
from flink_cep_examples_spark.plans.pattern import billing_pattern
from flink_cep_examples_spark.schemas import MATCH_TAG, TIMEOUT_TAG
from flink_cep_examples_spark.sources.billing import billing_from_rows

from tests.fixtures import EXPECTED_MATCHES, EXPECTED_TIMEOUTS, GOLDEN_INPUT_ROWS


def _collect_tagged(df):
    rows = df.collect()
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
    return matches, timeouts


@pytest.fixture(scope="module")
def golden_df(spark):
    return billing_from_rows(spark, GOLDEN_INPUT_ROWS)


@pytest.mark.parametrize("operator", [match_pattern, run_pattern])
def test_golden_with_timeouts(golden_df, operator):
    spec = billing_pattern(emit_timeouts=True)
    matches, timeouts = _collect_tagged(operator(golden_df, spec))
    assert matches == EXPECTED_MATCHES
    assert timeouts == EXPECTED_TIMEOUTS


@pytest.mark.parametrize("operator", [match_pattern, run_pattern])
def test_golden_matches_only(golden_df, operator):
    spec = billing_pattern(emit_timeouts=False)
    matches, timeouts = _collect_tagged(operator(golden_df, spec))
    assert matches == EXPECTED_MATCHES
    assert timeouts == []


def test_golden_shuffled_input(spark):
    """Out-of-order arrival must not change batch results (the operator
    sorts per key by event time)."""
    shuffled = [GOLDEN_INPUT_ROWS[i] for i in (4, 0, 6, 2, 5, 1, 3)]
    df = billing_from_rows(spark, shuffled)
    spec = billing_pattern(emit_timeouts=True)
    matches, timeouts = _collect_tagged(match_pattern(df, spec))
    assert matches == EXPECTED_MATCHES
    assert timeouts == EXPECTED_TIMEOUTS
