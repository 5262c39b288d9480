"""The tier table (operators/planner.py): every front-end — the query
catalog, the SQL ``MATCH_RECOGNIZE`` front-end and ``run_pattern`` —
returns what the NFA reference ``match_pattern`` returns, and the
catalog's specs land on the tiers their docstrings name."""

from __future__ import annotations

import pytest

from flink_cep_examples_spark.operators.cep_batch import match_pattern
from flink_cep_examples_spark.operators.planner import choose_tier, run_pattern
from flink_cep_examples_spark.plans.pattern import billing_pattern
from flink_cep_examples_spark.queries import QUERIES, load_all
from flink_cep_examples_spark.queries.cep import (
    _MR_BODY,
    absence_spec,
    skip_to_last_spec,
    until_pattern_spec,
)
from flink_cep_examples_spark.sources.billing import events_as_billing
from flink_cep_examples_spark.sql.match_recognize import (
    match_recognize,
    sql_with_match_recognize,
)

from tests.fixtures import write_events

load_all()


def test_null_balance_agrees_on_every_front_end(spark, tmp_path):
    """An alarm (50 -> 5), a NULL balance, then a top-up: the NULL row is
    neither B nor C, so it breaks the strict contiguity of ``A B* C`` and
    the NFA emits no match. The catalog, the SQL front-end and the table
    entry point must return the same (nothing) — a closed form that pairs
    the segment's A with its C would emit one."""
    sf = write_events(
        tmp_path,
        [
            (1, 0, 1, 5.0),  # alarm: balanceBefore 50 (first event)
            (2, 5, 1, None),  # NULL balance: neither B nor C
            (3, 10, 1, 60.0),  # top-up: balanceBefore falls back to 50
        ],
    )
    df = events_as_billing(spark, sf)
    spec = billing_pattern()
    want = sorted(map(tuple, match_pattern(df, spec).drop("tag").collect()))
    assert want == []

    def rows(out):
        return sorted(map(tuple, out.collect()))

    assert rows(QUERIES["cep_alert_reactions"](spark, sf)) == want
    assert rows(
        sql_with_match_recognize(
            spark,
            f"SELECT * FROM billing MATCH_RECOGNIZE ({_MR_BODY}) t",
            {"billing": df},
        )
    ) == want
    assert rows(match_recognize(df, _MR_BODY)) == want
    assert rows(run_pattern(df, spec).drop("tag")) == want
    # with the timeout channel: the NULL row ends the alarm's run, so
    # there is neither a match nor a timeout
    with_timeouts = billing_pattern(emit_timeouts=True)
    assert rows(match_pattern(df, with_timeouts)) == []
    assert rows(QUERIES["cep_alerts_with_timeouts"](spark, sf)) == []
    assert rows(run_pattern(df, with_timeouts)) == []


@pytest.mark.parametrize(
    "spec, tier",
    [
        (billing_pattern(), "nfa"),
        (billing_pattern(emit_timeouts=True), "nfa"),
        (until_pattern_spec(), "nfa"),
        (absence_spec(), "absence"),
        (skip_to_last_spec(), "positional"),
    ],
    ids=["billing", "billing_timeouts", "until", "absence", "skip_to_last"],
)
def test_catalog_specs_choose_their_tier(spark, sf_small, spec, tier):
    df = events_as_billing(spark, sf_small)
    assert choose_tier(df, spec).name == tier
    assert choose_tier(df, spec, use_fast_path=False).name == "nfa"

