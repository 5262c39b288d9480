"""The columnar grouped partition scan against a ``groupBy(...)
.applyInPandas`` reference: same key groups (NULL keys, NaN float keys,
two-column keys, keys straddling Arrow batch boundaries), same row order
inside each group (mergesort by the order columns, NULLs last), and at
most one output frame per input Arrow batch."""

from __future__ import annotations

import math
import uuid
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest

from flink_cep_examples_spark.operators.cep_batch import match_pattern
from flink_cep_examples_spark.operators.keyed_process import (
    billing_low_level_alerts,
    keyed_process,
)
from flink_cep_examples_spark.operators.partition_scan import (
    group_bounds,
    grouped_partition_scan,
)
from flink_cep_examples_spark.plans.pattern import Measure, Pattern, billing_pattern
from flink_cep_examples_spark.sources.billing import billing_from_rows

_BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
_SMALL_BATCH = 3
_OUT = "rid long, ord long, n long, part long, call string"


@contextmanager
def _small_arrow_batches(spark):
    spark.conf.set(_BATCH_CONF, str(_SMALL_BATCH))
    try:
        yield
    finally:
        spark.conf.unset(_BATCH_CONF)


def _rows(n=100):
    """Each ``ts`` value is shared by three consecutive rows (ties);
    ``tb`` is a unique non-monotone tiebreak, NULL on every 7th row (at
    most one NULL per tied ``ts``); a few rows have a NULL ``ts``. So no
    two rows of any group tie on (ts, tb) and the order is total."""
    rows = []
    for rid in range(n):
        tb = None if rid % 7 == 0 else (rid * 37) % 101
        ts = None if rid % 11 == 5 and tb is not None else rid // 3
        rows.append(
            (
                rid,
                None if rid % 10 == 3 else f"s{rid % 6}",
                math.nan if rid % 5 == 1 else float(rid % 4),
                None if rid % 9 == 2 else rid % 3,
                ts,
                tb,
            )
        )
    return rows


def _frame(spark):
    return spark.createDataFrame(
        _rows(), "rid long, ks string, kf double, k2 long, ts long, tb long"
    )


def _worker_fns():
    """``(reference, scan_batch)``, nested so they are pickled by value
    and the Python worker imports only the engine package, not this
    test module."""

    def reference(pdf: pd.DataFrame) -> pd.DataFrame:
        # today's per-group semantics: a stable sort of the group by the
        # order columns, NaN/NULL last
        pdf = pdf.sort_values(["ts", "tb"], kind="mergesort")
        n = len(pdf)
        return pd.DataFrame(
            {
                "rid": pdf["rid"].to_numpy(),
                "ord": np.arange(n),
                "n": np.full(n, n),
                "part": np.full(n, -1),
                "call": "",
            }
        )

    def scan_batch(pdf: pd.DataFrame, bounds) -> pd.DataFrame:
        from pyspark import TaskContext

        rid = pdf["rid"].to_numpy()
        return pd.DataFrame(
            {
                "rid": np.concatenate([rid[lo:hi] for lo, hi in bounds]),
                "ord": np.concatenate([np.arange(hi - lo) for lo, hi in bounds]),
                "n": np.concatenate(
                    [np.full(hi - lo, hi - lo) for lo, hi in bounds]
                ),
                "part": TaskContext.get().partitionId(),
                # one id per call, i.e. per output frame
                "call": uuid.uuid4().hex,
            }
        )

    return reference, scan_batch


def _by_rid(df) -> dict:
    rows = df.select("rid", "ord", "n").collect()
    out = {r.rid: (r.ord, r.n) for r in rows}
    assert len(out) == len(rows), "a row was emitted twice"
    return out


@pytest.mark.parametrize(
    "keys",
    [["ks"], ["kf"], ["ks", "k2"]],
    ids=["null_string_key", "nan_float_key", "two_column_key"],
)
def test_scan_matches_apply_in_pandas(spark, keys):
    df = _frame(spark)
    reference, scan_batch = _worker_fns()
    with _small_arrow_batches(spark):
        got = _by_rid(grouped_partition_scan(df, keys, ["ts", "tb"], scan_batch, _OUT))
        want = _by_rid(df.groupBy(*keys).applyInPandas(reference, _OUT))
    assert len(want) == 100
    assert got == want
    # the fixture exercises what it claims: a group larger than one
    # batch, and a tie on ts broken by a NULL tiebreak
    assert max(n for _, n in want.values()) > 2 * _SMALL_BATCH
    pdf = pd.DataFrame(_rows(), columns=["rid", "ks", "kf", "k2", "ts", "tb"])
    tied = pdf[pdf["ts"].notna()].groupby("ts")["tb"].apply(lambda s: s.isna().any())
    assert tied.any()


def test_one_output_frame_per_arrow_batch(spark):
    """Many one-row keys in small batches: the scan builds at most one
    frame per input batch of each partition, far fewer than keys."""
    n_keys = 60
    rows = [(i, f"k{i:02d}", None, None, i, i) for i in range(n_keys)]
    rows += [(n_keys + i, "hot", None, None, i, i) for i in range(10)]
    df = spark.createDataFrame(
        rows, "rid long, ks string, kf double, k2 long, ts long, tb long"
    )
    _, scan_batch = _worker_fns()
    with _small_arrow_batches(spark):
        out = grouped_partition_scan(
            df, ["ks"], ["ts", "tb"], scan_batch, _OUT
        ).toPandas()
    assert sorted(out["rid"]) == list(range(len(rows)))
    per_part = out.groupby("part").agg(rows=("rid", "size"), calls=("call", "nunique"))
    for part, r in per_part.iterrows():
        batches = -(-r["rows"] // _SMALL_BATCH)
        assert r["calls"] <= batches, (part, r["calls"], batches)
    assert out["call"].nunique() < n_keys


def test_null_and_nan_float_keys_are_two_groups(spark):
    """Two NULL and two NaN ``double`` keys in one partition: Spark's
    groupBy counts (NULL 2, NaN 2), and the scan must see two groups of
    two, although pandas reads both keys as NaN."""
    rows = [(0, None, None, None, 0, 0), (1, None, math.nan, None, 1, 1),
            (2, None, None, None, 2, 2), (3, None, math.nan, None, 3, 3)]
    df = spark.createDataFrame(
        rows, "rid long, ks string, kf double, k2 long, ts long, tb long"
    )
    counts = {
        "NULL" if r.kf is None else "NaN": r["count"]
        for r in df.groupBy("kf").count().collect()
    }
    assert counts == {"NULL": 2, "NaN": 2}
    _, scan_batch = _worker_fns()
    # one shuffle partition puts the NULL run and the NaN run side by side
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        got = _by_rid(grouped_partition_scan(df, ["kf"], ["ts", "tb"], scan_batch, _OUT))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert got == {0: (0, 2), 1: (0, 2), 2: (1, 2), 3: (1, 2)}

    class _Counter:  # nested: pickled by value, like _worker_fns
        def __init__(self):
            self.n = 0

        def process_element(self, rec, ctx, out):
            self.n += 1
            out.append({"rid": rec["rid"], "n": self.n, "cols": ",".join(rec)})

    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        kp = keyed_process(
            df, _Counter, "rid long, n long, cols string", key_cols=("kf",),
            order_col="ts", tiebreak_col="tb",
        ).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert sorted((r.rid, r.n) for r in kp) == [(0, 1), (1, 1), (2, 2), (3, 2)]
    assert {r.cols for r in kp} == {"rid,ks,kf,k2,ts,tb"}

    # match_pattern reports each row's match under its own key: NaN
    # stays NaN through the scan's pandas → Arrow output
    spec = Pattern.begin("A").where("rid >= 0").build(
        key_cols=("kf",), order_col="ts", tiebreak_col="tb",
        measures=(Measure("r", "A", "rid", "first"),),
    )
    got = sorted(
        ("NULL" if r.kf is None else "NaN" if math.isnan(r.kf) else r.kf, r.r)
        for r in match_pattern(df, spec).collect()
    )
    assert got == [("NULL", 0), ("NULL", 2), ("NaN", 1), ("NaN", 3)]


def test_group_bounds_null_equality():
    pdf = pd.DataFrame(
        {
            "a": ["x", "x", None, None, "y", "y", "y", np.nan],
            "b": [1.0, 1.0, np.nan, np.nan, np.nan, 2.0, 2.0, 2.0],
        }
    )
    assert group_bounds(pdf, ["a"]) == [(0, 2), (2, 4), (4, 7), (7, 8)]
    assert group_bounds(pdf, ["a", "b"]) == [(0, 2), (2, 4), (4, 5), (5, 7), (7, 8)]
    assert group_bounds(pdf.iloc[:0], ["a"]) == []


def _billing_rows():
    """Billing rows over many keys, several with alarms, top-ups and
    timeouts, so the operators' keys straddle 3-row batches."""
    rows = []
    for k in range(12):
        walk = [20, 5, 4, 30, 12, 3, 2, 1, 50][: 3 + k % 7]
        prev = 50
        for j, v in enumerate(walk):
            minute = 10 * j * (1 + k % 3)
            rows.append(
                (f"u{k}", f"2020-05-01 {10 + minute // 60:02d}:{minute % 60:02d}:00",
                 prev, v)
            )
            prev = v
    return rows


@pytest.mark.parametrize(
    "run",
    [
        lambda df: match_pattern(df, billing_pattern(emit_timeouts=True)),
        billing_low_level_alerts,
    ],
    ids=["match_pattern", "keyed_process"],
)
def test_operators_agree_across_batch_sizes(spark, run):
    df = billing_from_rows(spark, _billing_rows())
    want = sorted(map(tuple, run(df).collect()))
    with _small_arrow_batches(spark):
        got = sorted(map(tuple, run(df).collect()))
    assert got == want
    assert len(want) > 3
