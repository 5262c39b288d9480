"""Grouped partition scan: per-key processing with one Python crossing
per Arrow batch instead of one per key group.

``groupBy(key).applyInPandas(fn)`` invokes Python once per key, and the
function pays a pandas frame, a sort and an Arrow conversion per key —
with thousands of small keys those fixed costs dominate. This helper
gets the same groups from ``repartition(key) + sortWithinPartitions(key,
order) + mapInPandas``: every key's rows are contiguous and already in
processing order inside one partition, so the caller's ``scan_batch``
runs once per Arrow batch (default 10k rows). It receives the batch
frame and the ``(lo, hi)`` row bounds of the complete key groups in it,
turns the columns it needs into numpy once, runs each key over array
slices and returns ONE output frame for the whole batch.

Sort keys: the key columns ascending (Spark's default, NULLs first —
the order a window's ``PARTITION BY`` sorts them in), then the order
columns ascending with NULLs last — the order pandas' mergesort gave
when each group was re-sorted in Python — so no group is re-sorted
here. :func:`scan_order` is that order as Spark sort expressions and
:func:`scan_order_sql` as SQL text; the NFA, the keyed-process tier,
the billing source's balance window, PREV/NEXT navigation and every
compiled kernel use it, so a timestamp tie with a NULL tiebreak
resolves alike on every tier. A window over the same key and order
(the billing source's ``lag``) leaves its input sorted by exactly these
keys, so Catalyst runs one Exchange and one Sort for both when the scan
sorts on the same expressions — which is why a tier sorts on its order
column itself (:func:`sort_by_key`) and derives its scan columns after
the sort (:func:`scan_sorted`).

Group boundaries follow Spark's grouping equality: a run of NULL keys
is one group, a run of NaN keys is another, and a multi-column key
changes when any of its columns does. pandas reads a NULL float as NaN,
so each float key column brings an ``isnull`` flag column
(:func:`null_flag`), computed in Spark, and the bounds read it too. The
flag stays in the batch frame, so a scan can send a NaN key back as NaN
rather than NULL (pandas → Arrow turns an unmasked NaN into NULL).

Arrow batch boundaries: ``mapInPandas`` feeds a partition as a
SEQUENCE of batches, and a key's rows may straddle two of them — the
scanner carries the last (possibly incomplete) key of each batch into
the next, and scans every group of the partition's final batch.

At 100 TB this is also the shape you want: the shuffle is identical to
groupBy's (hash on key), but the Python boundary amortizes across the
whole partition.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: ``scan_batch(pdf, bounds) -> pd.DataFrame``: ``bounds`` lists the
#: ``(lo, hi)`` half-open row ranges of ``pdf``'s complete key groups.
BatchScan = Callable[[pd.DataFrame, list[tuple[int, int]]], pd.DataFrame]


def null_flag(col: str) -> str:
    """Name of float key ``col``'s ``isnull`` flag column."""
    return f"__isnull_{col}"


def float_key_flags(df: DataFrame, key_cols: list[str]) -> dict:
    """``isnull`` flag columns for ``df``'s float key columns: pandas
    reads a NULL float as NaN, so the flag, computed before the
    exchange, is what tells a NULL key from a NaN key."""
    return {
        null_flag(k): F.col(k).isNull()
        for k in key_cols
        if isinstance(df.schema[k].dataType, (T.FloatType, T.DoubleType))
    }


def null_flags_sql(df: DataFrame, cols) -> list[str]:
    """:func:`float_key_flags` as SQL, for the float columns among
    ``cols``."""
    return [
        f"({quote(c)} IS NULL) AS {quote(null_flag(c))}"
        for c in cols
        if isinstance(df.schema[c].dataType, (T.FloatType, T.DoubleType))
    ]


def quote(name: str) -> str:
    """``name`` as a SQL identifier: backquoted, inner backquotes doubled."""
    return "`" + name.replace("`", "``") + "`"


def scan_order(*cols) -> list[Column]:
    """Sort expressions for the order a key's rows are scanned in:
    ascending by each of ``cols`` (names or columns), NULLs last."""
    return [F.asc_nulls_last(c) for c in cols]


def scan_order_sql(*exprs: str) -> str:
    """:func:`scan_order` as the text of a SQL ``ORDER BY`` list over the
    SQL expressions ``exprs``."""
    return ", ".join(f"{e} ASC NULLS LAST" for e in exprs)


def key_starts(pdf: pd.DataFrame, key_cols: list[str]) -> np.ndarray:
    """``bool[len(pdf)]``: True at the first row of each run of equal
    keys (NULL equals NULL, NaN equals NaN, as in pandas'
    ``groupby(dropna=False)``)."""
    n = len(pdf)
    new = np.zeros(n, dtype=bool)
    new[:1] = True
    for k in key_cols:
        codes, _ = pd.factorize(pdf[k], use_na_sentinel=False)
        new[1:] |= codes[1:] != codes[:-1]
    return new


def group_bounds(pdf: pd.DataFrame, key_cols: list[str]) -> list[tuple[int, int]]:
    """``(lo, hi)`` bounds of the runs of equal keys in ``pdf``
    (:func:`key_starts`)."""
    starts = np.flatnonzero(key_starts(pdf, key_cols)).tolist()
    return list(zip(starts, [*starts[1:], len(pdf)]))


def timestamp_sql(col: str) -> str:
    """SQL reading column ``col`` as a ``TimestampType`` (the concrete
    LTZ type: the ``TIMESTAMP`` alias follows spark.sql.timestampType)."""
    return f"CAST({quote(col)} AS TIMESTAMP_LTZ)"


def time_key(df: DataFrame, col: str):
    """Sort key for ``df``'s order column ``col`` read as a timestamp:
    the column itself when it is one (the expression a window over it
    sorts by), else its cast."""
    if isinstance(df.schema[col].dataType, T.TimestampType):
        return col
    return F.expr(timestamp_sql(col))


def sort_by_key(df: DataFrame, key_cols: list[str], sort_cols: list) -> DataFrame:
    """``df`` hash-partitioned on ``key_cols``, each partition sorted by
    the keys (ascending) and then by ``sort_cols`` (names or columns,
    :func:`scan_order`)."""
    # No explicit partition count: repartition(*cols) sizes the exchange
    # from spark.sql.shuffle.partitions, and AQE is free to coalesce — at
    # 100 TB the shuffle width must come from config/AQE, not from the
    # Spark driver's core count. Catalyst drops this exchange, and the sort,
    # when the input is already partitioned and sorted that way (a
    # window over the same key and order).
    return df.repartition(*key_cols).sortWithinPartitions(
        *map(F.asc, key_cols), *scan_order(*sort_cols)
    )


def scan_sorted(
    df: DataFrame,
    key_cols: list[str],
    scan_batch: BatchScan,
    output_schema: T.StructType,
) -> DataFrame:
    """Apply ``scan_batch`` to the key groups of every Arrow batch of
    ``df``, whose partitions :func:`sort_by_key` has ordered (projections
    on top of it keep that order). A float key's group bounds read its
    :func:`null_flag` column when ``df`` carries it."""

    def scan_partition(batches: Iterator[pd.DataFrame]):
        it = iter(batches)
        pdf = next(it, None)
        if pdf is None:
            return
        bound_cols = [*key_cols, *(f for f in map(null_flag, key_cols) if f in pdf)]
        carry: pd.DataFrame | None = None
        while pdf is not None:
            # one batch of lookahead: the final batch scans its trailing
            # key too, so no extra frame is built for the last carry
            nxt = next(it, None)
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            bounds = group_bounds(pdf, bound_cols)
            if nxt is not None and bounds:
                # hold back the final key of the batch — it may continue
                # in the next batch
                lo = bounds.pop()[0]
                carry = pdf.iloc[lo:]
            if bounds:
                out = scan_batch(pdf, bounds)
                if len(out):
                    yield out
            pdf = nxt

    return df.mapInPandas(scan_partition, output_schema)


def grouped_partition_scan(
    df: DataFrame,
    key_cols: list[str],
    sort_cols: list[str],
    scan_batch: BatchScan,
    output_schema: T.StructType,
) -> DataFrame:
    """Apply ``scan_batch`` to the key groups of every Arrow batch, rows
    of each group ordered by ``sort_cols`` (ascending, NULLs last).
    Equivalent to ``df.groupBy(*key_cols).applyInPandas(...)`` where the
    function mergesorts by ``sort_cols`` itself, with at most one output
    frame per input batch."""
    null_flags = float_key_flags(df, key_cols)
    if null_flags:
        df = df.withColumns(null_flags)
    return scan_sorted(
        sort_by_key(df, key_cols, sort_cols), key_cols, scan_batch, output_schema
    )
