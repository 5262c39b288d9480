"""Batch CEP operator: ``match_pattern(df, spec)``, the one batch NFA
operator.

It serves a single pattern (``PatternSpec``) or a top-level alternation
(``AlternationSpec``), with ONE ROW or ALL ROWS PER MATCH. The spec's
type picks the per-key-group scan (``nfa.scan_key_group`` or
``nfa.scan_key_group_alternation``) and ``rows_per_match`` the per-match
emission; staging, the output frame and the partition scan are shared.
The Spark-side plumbing around the NFA core (operators/nfa.py), staged
for scale:

1. **One shuffle, one sort** — ``repartition(key) +
   sortWithinPartitions(key, order, tiebreak)`` on the order column
   itself (operators/partition_scan.py::sort_by_key), so a window over
   the same key and order below (the billing source's balance ``lag``)
   shares its Exchange and its Sort with the scan.
2. **Vectorized predicate precompute** — one SQL projection after the
   sort (:func:`_stage_exprs`) evaluates every DEFINE predicate as a
   boolean column (Catalyst codegen, columnar) beside the epoch-µs
   timestamp and the ``isnull`` flags of float columns. Python never
   evaluates a predicate (SURVEY §4: the single biggest perf lever).
   ``mapInPandas`` then hands each Arrow batch of whole, already-ordered
   key groups to :func:`batch_scan`; its predicate and timestamp columns
   become numpy once, the NFA scans each key over array slices, and the
   batch yields ONE output frame (the compiled kernels also run
   :func:`batch_scan` when their preconditions fail on a partition).
3. **Measures projection** — matched-row values are read from the
   key's slice of the batch arrays; output rows carry the key, the
   measures, and the ``tag`` column ('match' / 'timeout' — side-output
   emulation, Flink OutputTag → union schema,
   FlinkCEPAbsenceOfEventExample.scala:77,95-106).

This general operator handles every pattern the DSL can express; it is
the reference the compiled kernels of operators/fast_path.py are
differential-tested against. Front-ends pick between them through the
tier table (operators/planner.py::run_pattern).
"""

from __future__ import annotations

from dataclasses import replace
from typing import Callable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_cep_examples_spark.plans.pattern import (
    AGG_FNS,
    NILADIC_FNS,
    STRICT,
    AlternationSpec,
    Measure,
    PatternSpec,
)
from flink_cep_examples_spark.operators import nfa
from flink_cep_examples_spark.operators.partition_scan import (
    BatchScan,
    grouped_partition_scan,
    null_flag,
    null_flags_sql,
    quote,
    scan_order_sql,
    scan_sorted,
    sort_by_key,
    time_key,
    timestamp_sql,
)
from flink_cep_examples_spark.schemas import MATCH_TAG, TIMEOUT_TAG

_PRED_PREFIX = "__cep_p_"
_TS_COL = "__cep_ts_ms"

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

Spec = PatternSpec | AlternationSpec


def _measure_field(df: DataFrame, m: Measure) -> T.StructField:
    if m.fn in ("count", "count_col", "match_number"):
        return T.StructField(m.name, T.LongType(), True)
    if m.fn == "classifier":
        return T.StructField(m.name, T.StringType(), True)
    src_type = df.schema[m.src].dataType
    if m.fn == "avg":
        return T.StructField(m.name, T.DoubleType(), True)
    if m.fn == "sum":
        out = (
            T.LongType() if isinstance(src_type, _INTEGRAL) else T.DoubleType()
        )
        return T.StructField(m.name, out, True)
    return T.StructField(m.name, src_type, True)


def _needs_src(m: Measure) -> bool:
    return m.fn != "count" and m.fn not in NILADIC_FNS


_NULLABLE_PD = {T.LongType(): "Int64", T.DoubleType(): "Float64"}


def _resolve_spans(var: str, match: dict, subset_map: dict) -> list:
    """A variable's (or SUBSET union's) ordered spans in a match dict
    — shared by the measure evaluator and the RUNNING-series builder."""
    if var in subset_map:
        spans = [match[c] for c in subset_map[var] if match.get(c)]
        return sorted(spans, key=lambda s: s[3])
    s = match.get(var)
    return [s] if s is not None else []


def _classified_var_idx(spec) -> list[int]:
    """Variable indices whose per-iteration row sets have NO fixed
    stride — multi-branch group members, or members of properly NESTED
    groups (the union span; a unit's inner count varies, so even the
    shared end variable strides irregularly). Their row sets
    reconstruct PER ROW from the variable predicates (round 10) under
    runtime pairwise disjointness, both for ALL ROWS emission and for
    aggregate/RUNNING measures."""
    if getattr(spec, "loop_branches", ()):
        b_lo, b_hi = spec.loop_groups[0]
        return list(range(b_lo, b_hi + 1))
    spans_sorted = sorted(spec.loop_groups)
    nested: set[int] = set()
    for gi, (gs, ge) in enumerate(spans_sorted):
        for gs2, ge2 in spans_sorted[gi + 1 :]:
            if gs2 > ge:
                continue  # disjoint (validated: else properly nested)
            nested.update(range(min(gs, gs2), max(ge, ge2) + 1))
    return sorted(nested)


def _classify_preds(spec, preds):
    """``({var: bool_row}, multi_mask, any_multi)`` for per-row row-set
    reconstruction (see :func:`_classified_var_idx`), or None when the
    spec has no classified vars. ``preds`` is indexed by variable
    position (a stacked matrix or list of row arrays); ``multi_mask``
    marks rows satisfying MORE than one classified predicate — the
    ambiguity the reconstruction must loudly reject."""
    idx = _classified_var_idx(spec)
    if not idx:
        return None
    mats = {
        spec.variables[i].name: np.asarray(preds[i], dtype=bool)
        for i in idx
    }
    counts = np.zeros(len(next(iter(mats.values()))), dtype=np.int8)
    for arr in mats.values():
        counts += arr
    multi = counts > 1
    return (mats, multi, bool(multi.any()))


def _loop_strides(spec) -> dict[str, int]:
    """var name → row stride for single-body loop-group variables: a
    group member's rows across iterations are the stride-L arithmetic
    progression from its merged (first, last) span, L = group width
    (exactly-once + strict body, validated). Multi-branch and NESTED
    group members have NO fixed stride — they are excluded here and
    reconstruct per row from predicates (:func:`_classified_var_idx`)."""
    if getattr(spec, "loop_branches", ()):
        return {}
    cls = set(_classified_var_idx(spec))
    return {
        spec.variables[i].name: ge - gs + 1
        for gs, ge in spec.loop_groups
        for i in range(gs, ge + 1)
        if i not in cls
    }


_AMBIGUOUS_ROWS = (
    "aggregate/RUNNING measure over a multi-branch or nested group "
    "variable reconstructs its row set from the variable predicates and "
    "needs them pairwise-disjoint on the matched rows"
)


def _actual_rows(comps, match, loop_stride, classify) -> np.ndarray:
    """The rows :func:`_actual_spans` covers for the components
    ``comps`` of a variable, as one sorted index array."""
    parts = []
    for c in comps:
        s = match.get(c)
        if s is None:
            continue
        if classify is not None and c in classify[0]:
            pr, multi = classify[0][c], classify[1]
            if classify[2] and multi[s[0] : s[1] + 1].any():
                raise NotImplementedError(_AMBIGUOUS_ROWS)
            parts.append(np.flatnonzero(pr[s[0] : s[1] + 1]) + s[0])
        else:
            parts.append(np.arange(s[0], s[1] + 1, loop_stride.get(c, 1)))
    return parts[0] if len(parts) == 1 else np.sort(np.concatenate(parts))


def _int_aggregate(fn, arr, comps, loop_stride, classify, empty):
    """FINAL aggregate ``fn`` over an integer source for variables with
    strided or classified rows, one Python pass per match: an integer
    column carries no NULL (pandas reads one with NULLs as float) and
    adds exactly in any order, so this equals :func:`_aggregate` over
    :func:`_actual_rows` without numpy's per-call cost on a match's few
    rows."""
    values = arr.tolist()
    preds = {
        c: classify[0][c].tolist() for c in comps
        if classify is not None and c in classify[0]
    }
    reduce = {
        "sum": sum, "min": min, "max": max, "count_col": len,
        "avg": lambda v: sum(v) / len(v),
    }[fn]

    def aggregate(match, match_no):
        picked = []
        for c in comps:
            s = match.get(c)
            if s is None:
                continue
            lo, hi = s[0], s[1] + 1
            pr = preds.get(c)
            if pr is None:
                picked.extend(values[lo:hi:loop_stride.get(c, 1)])
                continue
            if classify[2] and classify[1][lo:hi].any():
                raise NotImplementedError(_AMBIGUOUS_ROWS)
            picked.extend(values[r] for r in range(lo, hi) if pr[r])
        return reduce(picked) if picked else empty

    return aggregate


def _actual_spans(var, match, subset_map, loop_stride, classify=None) -> list:
    """Like :func:`_resolve_spans`, but loop-group variables expand to
    their ACTUAL row set — stride-L singleton spans (round 8), or for
    CLASSIFIED vars (multi-branch / nested groups, round 10) the rows
    of the merged span where the var's own predicate holds — so
    RUNNING series and aggregates never sweep sibling iteration
    rows."""
    out = []
    for c in subset_map.get(var, (var,)):
        s = match.get(c)
        if s is None:
            continue
        if classify is not None and c in classify[0]:
            pr, multi = classify[0][c], classify[1]
            if bool(multi[s[0] : s[1] + 1].any()):
                raise NotImplementedError(_AMBIGUOUS_ROWS)
            out.extend(
                (int(r), int(r))
                for r in np.flatnonzero(pr[s[0] : s[1] + 1]) + s[0]
            )
            continue
        stride = loop_stride.get(c, 1) if loop_stride else 1
        if stride == 1 or s[0] == s[1]:
            out.append(s)
        else:
            out.extend((r, r) for r in range(s[0], s[1] + 1, stride))
    return sorted(out, key=lambda sp: sp[0])


def _null_safe_agg_cast(pdf, measure_list, out_schema) -> None:
    """Aggregates over an empty/all-NULL row set yield SQL NULL; a
    plain float64 pandas column would turn that None into NaN (Arrow
    sends NaN as NaN, not null). Cast those columns to the pandas
    nullable dtype so NULLs survive the Arrow boundary."""
    for m in measure_list:
        if m.fn in AGG_FNS and m.fn != "count_col":
            want = _NULLABLE_PD.get(out_schema[m.name].dataType)
            if want is not None:
                pdf[m.name] = pdf[m.name].astype(want)


def _null_mask(pdf: pd.DataFrame, col: str, vals: np.ndarray) -> np.ndarray:
    """``bool[n]``: the rows where source ``col`` is NULL. A float column
    reads its staged ``isnull`` flag, so a NaN stays a value; an integer
    column with NULLs arrives as float NaN without a flag, where NaN can
    only mean NULL."""
    flag = null_flag(col)
    if flag in pdf:
        return pdf[flag].to_numpy(dtype=bool)
    if vals.dtype.kind == "f":
        return np.isnan(vals)
    if vals.dtype.kind in "mM":
        return np.isnat(vals)
    if vals.dtype == object:
        return pd.isna(vals)
    return np.zeros(len(vals), dtype=bool)


def _nan_lt(a, b) -> bool:
    """``a < b`` where NaN sorts above every number (Spark's order)."""
    return (b != b and a == a) or a < b


def _aggregate(fn: str, vals: np.ndarray, nulls: np.ndarray):
    """One FINAL aggregate with Spark SQL semantics over a variable's
    row values: NULL rows are skipped, NaN is a value — SUM, AVG and MAX
    give NaN, COUNT counts it, and MIN ignores it unless it is alone
    (NaN sorts above every number). Returns NULL (None) over zero
    non-NULL rows, COUNT(col) returns 0."""
    n = len(vals) - int(np.count_nonzero(nulls))
    if fn == "count_col":
        return n
    if n == 0:
        return None
    if vals.dtype == object:
        # decimals, strings: pandas' exact object reductions
        ser = pd.Series(vals[~nulls])
        if fn == "sum":
            return ser.sum()
        if fn == "avg":
            return float(ser.mean())
        return ser.min() if fn == "min" else ser.max()
    if fn in ("sum", "avg"):
        # zero the NULL rows and sum in place, as pandas' skipna sum does,
        # so a float sum rounds exactly as before
        filled = np.where(nulls, 0, vals) if n < len(vals) else vals
        if fn == "sum":
            return filled.sum()
        return float(filled.sum(dtype=np.float64)) / n
    keep = vals[~nulls] if n < len(vals) else vals
    if keep.dtype.kind == "f":
        nan = np.isnan(keep)
        if nan.any():
            if fn == "max" or nan.all():
                return np.nan
            keep = keep[~nan]
    return keep.min() if fn == "min" else keep.max()


def _make_measure_eval(
    measure_list, subsets, src_arrays, null_arrays, loop_stride=None,
    classify=None,
):
    """Shared measure evaluator (one-row + all-rows tiers): returns
    ``[(name, value(match, match_no))]``, one function per measure.

    ``match`` maps var name → (first_idx, last_idx, count, first_ord,
    last_ord); SUBSET names resolve to the union of their components'
    spans. Aggregates slice the contiguous [first_idx, last_idx] row
    range per component — sound because the spec validated strict
    contiguity — and reduce the numpy slices with SQL semantics
    (:func:`_aggregate`; ``null_arrays`` holds each source's NULL
    rows). ``match_no`` is the 1-based per-key match ordinal (``None``
    on timeout rows). RUNNING measures (ALL ROWS PER MATCH) are NOT
    handled here — see :func:`_running_series`. Each measure compiles
    once per key group, so a match costs one call per measure."""
    subset_map = dict(subsets)

    def compile_measure(m):
        if m.fn == "match_number":
            return lambda match, match_no: match_no
        if m.fn == "classifier":
            return lambda match, match_no: (
                max(match.items(), key=lambda kv: kv[1][4])[0] if match else None
            )
        comps = subset_map.get(m.var, (m.var,))
        empty = 0 if m.fn in ("count", "count_col") else m.default
        arr = src_arrays.get(m.src)
        if m.fn == "count":
            if len(comps) == 1:
                var = comps[0]
                return lambda match, match_no: (
                    match[var][2] if var in match else 0
                )
            return lambda match, match_no: sum(
                match[c][2] for c in comps if c in match
            )
        if m.fn in ("first", "last") and len(comps) == 1:
            pos = 0 if m.fn == "first" else 1
            var = comps[0]
            return lambda match, match_no: (
                arr[match[var][pos]] if var in match else empty
            )
        if m.fn in ("first", "last"):
            # FIRST: the span with the least FIRST ordinal; LAST: the
            # greatest LAST ordinal, not the last-sorted-by-first span's
            # last — multi-branch group iterations interleave the
            # components (round 8)
            if m.fn == "first":

                def nav(match, match_no):
                    best = None
                    for c in comps:
                        sp = match.get(c)
                        if sp is not None and (best is None or sp[3] < best[3]):
                            best = sp
                    return empty if best is None else arr[best[0]]

                return nav

            def nav_last(match, match_no):
                best = None
                for c in comps:
                    sp = match.get(c)
                    if sp is not None and (best is None or sp[4] > best[4]):
                        best = sp
                return empty if best is None else arr[best[1]]

            return nav_last
        nulls = null_arrays[m.src]
        if arr.dtype.kind in "iu" and (loop_stride or classify is not None):
            return _int_aggregate(
                m.fn, arr, comps, loop_stride or {}, classify, empty
            )

        def aggregate(match, match_no):
            # every consumed row (strict spans; loop-group vars slice
            # stride-L — round 8, the merged span interleaves sibling
            # iteration rows)
            if not any(c in match for c in comps):
                return empty
            if loop_stride or classify is not None:
                rows = _actual_rows(comps, match, loop_stride, classify)
                return _aggregate(m.fn, arr[rows], nulls[rows])
            spans = _resolve_spans(m.var, match, subset_map)
            if len(spans) == 1:
                lo, hi = spans[0][0], spans[0][1] + 1
                return _aggregate(m.fn, arr[lo:hi], nulls[lo:hi])
            return _aggregate(
                m.fn,
                np.concatenate([arr[s[0] : s[1] + 1] for s in spans]),
                np.concatenate([nulls[s[0] : s[1] + 1] for s in spans]),
            )

        return aggregate

    return [(m.name, compile_measure(m)) for m in measure_list]


def _running_series(
    m: Measure, spans: list, arr, nulls, lo: int, hi: int
) -> list:
    """RUNNING value of one measure for every row index in [lo, hi]:
    one incremental pass over the match (linear, not per-row
    re-aggregation). ``spans`` are the variable's ordered contiguous
    spans; ``arr`` the source column and ``nulls`` its NULL rows (None
    for count/count★). NULLs are skipped and NaN is a value, as in
    :func:`_aggregate`, so the value on a match's last row is the FINAL
    one."""
    out = [None] * (hi - lo + 1)
    si = 0
    count = n_vals = 0
    # lazy-init the sum accumulator from the FIRST value so exact
    # types fold exactly: a DECIMAL source accumulates in
    # decimal.Decimal (a float 0.0 seed raised TypeError — round-13
    # probe finding — and an int 0 seed would silently stay exact only
    # by accident of Python promotion rules); float sources keep the
    # float fold bit-for-bit
    total = None
    mn = mx = first = last = None
    for r in range(lo, hi + 1):
        while si < len(spans) and r > spans[si][1]:
            si += 1
        if si < len(spans) and spans[si][0] <= r <= spans[si][1]:
            count += 1
            if arr is not None:
                v = arr[r]
                if count == 1:
                    first = v  # first ROW's value, null or not
                last = v
                if not nulls[r]:
                    n_vals += 1
                    if m.fn in ("sum", "avg"):
                        total = v if total is None else total + v
                    mn = v if mn is None or _nan_lt(v, mn) else mn
                    mx = v if mx is None or _nan_lt(mx, v) else mx
        i = r - lo
        if m.fn == "count":
            out[i] = count
        elif m.fn == "count_col":
            out[i] = n_vals
        elif m.fn == "first":
            out[i] = first if count else None
        elif m.fn == "last":
            out[i] = last if count else None
        elif n_vals == 0:
            out[i] = None  # SQL: aggregate over empty/all-NULL prefix
        elif m.fn == "sum":
            out[i] = total
        elif m.fn == "avg":
            # the avg field is DOUBLE (_measure_field): one divide on
            # the exact running sum, converted once
            a = total / n_vals
            out[i] = a if isinstance(a, float) else float(a)
        elif m.fn == "min":
            out[i] = mn
        else:
            out[i] = mx
    return out


def output_schema(df: DataFrame, spec: PatternSpec) -> T.StructType:
    fields = [T.StructField(k, df.schema[k].dataType, True) for k in spec.key_cols]
    fields += [_measure_field(df, m) for m in spec.measures]
    fields.append(T.StructField("tag", T.StringType(), False))
    return T.StructType(fields)


def all_rows_output_schema(df: DataFrame, spec: PatternSpec) -> T.StructType:
    """ALL ROWS PER MATCH output: every input column + classifier +
    per-key match_seq + FINAL measures (shared by the NFA tier and the
    fast path so both stay schema-identical)."""
    return T.StructType(
        [T.StructField(c, df.schema[c].dataType, True) for c in df.columns]
        + [
            T.StructField("classifier", T.StringType(), False),
            T.StructField("match_seq", T.LongType(), False),
        ]
        + [_measure_field(df, m) for m in spec.measures]
    )


def _with_nav_cols(df: DataFrame, spec: Spec) -> DataFrame:
    """Materialize PREV()/NEXT() navigation as lag/lead columns over
    the (key, order, tiebreak) window — the same ordering the NFA
    scans by, NULLs last, so ``PREV(x)`` is exactly the previous
    processed row. The window's hash partitioning and sort are the SAME
    exchange and sort the pattern operator needs next, so Catalyst
    reuses them (one shuffle total, plan-audited)."""
    if not spec.nav_cols:
        return df
    order = scan_order_sql(
        timestamp_sql(spec.order_col), quote(spec.tiebreak_col)
    )
    over = (
        f"OVER (PARTITION BY {', '.join(map(quote, spec.key_cols))} "
        f"ORDER BY {order})"
    )
    return df.selectExpr(
        "*",
        *[
            f"{'LAG' if kind == 'prev' else 'LEAD'}({quote(src)}, {off}) "
            f"{over} AS {quote(alias)}"
            for alias, src, off, kind in spec.nav_cols
        ],
    )


def _stage_exprs(df: DataFrame, spec: Spec, all_rows: bool) -> list[str]:
    """The scan's input columns over ``df`` (plus its navigation
    columns) as SQL: the columns the keys and measures read (every
    column for ALL ROWS PER MATCH), the epoch-µs timestamp, one boolean
    per DEFINE predicate, and an ``isnull`` flag per float column passed
    through — pandas reads a NULL float as NaN, so the flag is what lets
    the output frame send a NaN back as NaN."""
    if all_rows:
        cols = list(df.columns)
    else:
        needed = {m.src for m in spec.measures if _needs_src(m)}
        needed.update(spec.key_cols)
        needed.add(spec.tiebreak_col)
        cols = sorted(needed)
    exprs = [quote(c) for c in cols]
    exprs.append(f"unix_micros({timestamp_sql(spec.order_col)}) AS {_TS_COL}")
    exprs += [f"({e}) AS {_PRED_PREFIX}{i}" for i, e in enumerate(spec.pred_exprs)]
    return exprs + null_flags_sql(df, cols)


def _prepare(df: DataFrame, spec: Spec, all_rows: bool = False) -> DataFrame:
    """Stage ``df`` for a scan in one projection (:func:`_stage_exprs`);
    the rows keep ``df``'s order. Catalyst prunes every input column the
    projection does not read."""
    return _with_nav_cols(df, spec).selectExpr(*_stage_exprs(df, spec, all_rows))


def _batch_arrays(pdf: pd.DataFrame, n_preds: int):
    """A batch's epoch-µs timestamps and ``bool[n_preds, n_rows]``
    predicate matrix, converted once; each key group scans slices."""
    ts = pdf[_TS_COL].to_numpy(dtype=np.int64)
    preds = np.stack(
        [
            pdf[f"{_PRED_PREFIX}{i}"].to_numpy(dtype=bool)
            for i in range(n_preds)
        ]
    )
    return ts, preds


def _src_arrays(pdf: pd.DataFrame, measure_list) -> tuple[dict, dict]:
    """The measure sources of a batch as numpy arrays, and each one's
    NULL rows (:func:`_null_mask`), converted once per batch."""
    vals = {m.src: pdf[m.src].to_numpy() for m in measure_list if _needs_src(m)}
    return vals, {c: _null_mask(pdf, c, a) for c, a in vals.items()}


def _slice_arrays(arrays: dict, lo: int, hi: int) -> dict:
    return {c: a[lo:hi] for c, a in arrays.items()}


def _append_one_row(cols, key_rows, lo, measures, found, tag, numbers) -> None:
    """Append one output row per match in ``found`` of the key group
    starting at batch row ``lo``, a column at a time: ``measures`` from
    :func:`_make_measure_eval`, ``numbers`` the MATCH_NUMBER of each,
    ``tag`` the tag column's value (None: no tag column)."""
    for name, value in measures:
        cols[name].extend(map(value, found, numbers))
    if tag is not None:
        cols["tag"].extend([tag] * len(found))
    key_rows.extend([lo] * len(found))


def _is_datetime64(dtype) -> bool:
    return isinstance(dtype, np.dtype) and dtype.kind == "M"


def _batch_frame(pdf, gathered, rows, cols, measure_list, out_schema):
    """The one output frame of a batch: the ``gathered`` input columns
    taken from ``pdf`` at batch rows ``rows`` (a key group's first row,
    or each emitted ALL ROWS row), then the computed ``cols``. A float
    column goes out masked by its ``isnull`` flag — a gathered column by
    the batch's flag column, a FIRST/LAST measure by the flag values
    computed beside it, an aggregate where its value is None — so a NaN
    stays NaN through Arrow instead of turning NULL."""
    idx = np.asarray(rows, dtype=np.intp)
    data = {c: pdf[c].to_numpy()[idx] for c in gathered}
    for c in gathered:
        if null_flag(c) in pdf:
            data[c] = pd.arrays.FloatingArray(
                data[c], pdf[null_flag(c)].to_numpy(dtype=bool)[idx]
            )
    data.update(cols)
    for m in measure_list:
        flags = cols.get(null_flag(m.name))
        if flags is None and m.fn in AGG_FNS and isinstance(
            out_schema[m.name].dataType, (T.FloatType, T.DoubleType)
        ):
            # a float aggregate is NULL where it is None; NaN is a value
            flags = [v is None for v in cols[m.name]]
        if flags is not None:
            data[m.name] = pd.arrays.FloatingArray(
                np.array([np.nan if v is None else v for v in cols[m.name]],
                         dtype=np.float64),
                np.array([f is None or bool(f) for f in flags], dtype=bool),
            )
        elif m.fn in ("first", "last") and _is_datetime64(pdf[m.src].dtype):
            # a list of datetime64 scalars (None: NaT) converts at C
            # speed at the source's dtype; pandas would infer it per value
            data[m.name] = np.array(cols[m.name], dtype=pdf[m.src].dtype)
    out = pd.DataFrame(data, columns=[f.name for f in out_schema.fields])
    _null_safe_agg_cast(out, measure_list, out_schema)
    return out


def _running_measures(running, match, spans_of, src_arrays, null_arrays) -> dict:
    """RUNNING measures of one match (ALL ROWS PER MATCH): name →
    ``(first row, series)``, one incremental series over the match's
    row range. ``spans_of(var)`` gives a variable's row spans."""
    if not running or not match:
        return {}
    lo = min(sp[0] for sp in match.values())
    hi = max(sp[1] for sp in match.values())
    return {
        m.name: (
            lo,
            _running_series(
                m, spans_of(m.var), src_arrays.get(m.src),
                null_arrays.get(m.src), lo, hi,
            ),
        )
        # MATCH_NUMBER is constant, RUNNING CLASSIFIER the row's own var
        for m in running
        if m.fn not in ("match_number", "classifier")
    }


def _append_all_rows(
    cols, out_rows, lo, emit_rows, seq, measure_list, mvals, run_series
) -> None:
    """Append one ALL ROWS output row per ``(row, var)`` of a match; rows
    count from the key group's first batch row ``lo``."""
    for r, vname in emit_rows:
        out_rows.append(lo + r)
        cols["classifier"].append(vname)
        cols["match_seq"].append(seq)
        for m in measure_list:
            if m.name in run_series:
                m_lo, series = run_series[m.name]
                cols[m.name].append(series[r - m_lo])
            elif m.running and m.fn == "classifier":
                # RUNNING CLASSIFIER() = the current row's own variable
                # (SQL:2016)
                cols[m.name].append(vname)
            else:
                cols[m.name].append(mvals[m.name])


def _alternation_order(am):
    # deterministic MATCH_NUMBER across derivations: under leftmost
    # derivation + SKIP TO NEXT ROW, held-resolution can emit a blocked
    # earlier start AFTER a later unblocked one, so emission order is
    # not SQL:2016 start order — number by (start, end, alternative)
    return (
        min(sp[0] for sp in am[1].values()),
        max(sp[1] for sp in am[1].values()),
        am[0],
    )


def rows_per_match(spec: Spec) -> str:
    """``"one"`` or ``"all"``; an alternation takes its first
    alternative's choice."""
    if isinstance(spec, AlternationSpec):
        return spec.alternatives[0].rows_per_match
    return spec.rows_per_match


def _start_end_order(match: dict):
    return (
        min(sp[3] for sp in match.values()),
        max(sp[4] for sp in match.values()),
    )


def _first_row(match: dict) -> int:
    return min(sp[0] for sp in match.values())


def _classified_rows(spec, idx, match, preds) -> list[tuple[int, str]]:
    """ALL ROWS ``(row, var)`` pairs of a match's multi-branch or NESTED
    group (variable indices ``idx``): iterations have no fixed stride,
    but strict contiguity means every row between the group vars' first
    and last was consumed by exactly one of them, and under disjoint
    predicates THAT var is the unique one whose predicate holds at the
    row. Ambiguity is a loud reject (the NFA does not record per-row
    assignments); excluded ``{- var -}`` rows are dropped."""
    present = [
        match[v.name]
        for v in (spec.variables[i] for i in idx)
        if v.name in match
    ]
    if not present:
        return []
    out = []
    lo = min(sp[0] for sp in present)
    for r in range(lo, max(sp[1] for sp in present) + 1):
        hits = [vi for vi in idx if preds[vi][r]]
        if len(hits) != 1:
            raise NotImplementedError(
                "ALL ROWS PER MATCH with a multi-branch or nested "
                "unbounded group reconstructs per-row CLASSIFIER from "
                "the variable predicates and needs them pairwise-"
                "disjoint on the matched rows (a row satisfied "
                f"{len(hits)} group-variable predicates)"
            )
        v = spec.variables[hits[0]]
        if not v.excluded:
            out.append((r, v.name))
    return out


#: ``match_batch(preds, ts, bounds)``: the matches of each key group
#: ``[lo, hi)`` of a staged batch, one ``(matches, timeouts, alt_of)``
#: per bound, in MATCH_NUMBER order; a match maps var name →
#: ``(first, last, count, first_ord, last_ord)`` group rows, ``alt_of``
#: lists each match's alternative (None for a single pattern)
MatchBatch = Callable[[np.ndarray, np.ndarray, list], list]


def nfa_matcher(spec: Spec):
    """The NFA over one key group: ``match(preds, ts) -> (matches,
    timeouts, alt_of)`` on the group's predicate rows and timestamps."""
    if isinstance(spec, AlternationSpec):
        # one NFA per alternative; its predicate rows in the staged order
        nfas = [nfa.Nfa(a) for a in spec.alternatives]
        pred_rows, pos = [], 0
        for a in spec.alternatives:
            pred_rows.append((pos, pos + len(a.pred_exprs)))
            pos += len(a.pred_exprs)
        after, derivation = spec.after_match, spec.derivation

        def match_alternation(preds, ts):
            matched = nfa.scan_key_group_alternation(
                nfas, [preds[a:b] for a, b in pred_rows], ts, after,
                derivation,
            )
            matched.sort(key=_alternation_order)
            return [m for _, m in matched], [], [a for a, _ in matched]

        return match_alternation
    # compiled once: the scan reuses it for every key group
    compiled = nfa.Nfa(spec)

    def match(preds, ts):
        matches, timeouts = nfa.scan_key_group(compiled, preds, ts)
        if compiled.longest and len(matches) > 1:
            # held resolution can emit a blocked earlier start AFTER a
            # later unblocked one (SKIP TO NEXT ROW) — renumber by
            # (start, end) ordinal so MATCH_NUMBER is SQL:2016 start
            # order
            matches.sort(key=_start_end_order)
        return matches, timeouts, None

    return match


def _nfa_batch(spec: Spec) -> MatchBatch:
    match = nfa_matcher(spec)
    return lambda preds, ts, bounds: [
        match(preds[:, lo:hi], ts[lo:hi]) for lo, hi in bounds
    ]


def batch_scan(
    spec: Spec, out_schema: T.StructType, owns_start=None, match_batch=None
) -> BatchScan:
    """The per-batch scan of :func:`match_pattern`, for
    ``grouped_partition_scan``: ``scan(pdf, bounds)`` matches each key
    group ``pdf[lo:hi]`` of a staged batch (:func:`_prepare`) and returns
    the batch's one ``out_schema`` frame. ``match_batch`` finds the
    matches (:data:`MatchBatch`; the NFA, :func:`nfa_matcher`, by
    default); the emission of measures, ALL ROWS rows, MATCH_NUMBER and
    ``tag`` is the same for every matcher. ``owns_start(pdf)``, if
    given, marks the batch rows from which a match or timeout may start;
    the rest are dropped (:func:`match_pattern_time_sliced`'s home
    slice)."""
    alternation = isinstance(spec, AlternationSpec)
    all_rows = rows_per_match(spec) == "all"
    measure_list = list(spec.measures)
    subsets = spec.subsets
    subset_map = dict(subsets)
    n_preds = len(spec.pred_exprs)
    if match_batch is None:
        match_batch = _nfa_batch(spec)
    # pandas reads a NULL float as NaN: a FIRST/LAST over a float source
    # is also evaluated over the source's isnull flag (the staged batch
    # carries one per float column), and _batch_frame masks the value by
    # it, so a NaN goes out as NaN and a NULL as NULL
    float_nav = [
        m for m in measure_list
        if m.fn in ("first", "last")
        and isinstance(out_schema[m.name].dataType, (T.FloatType, T.DoubleType))
    ]
    if alternation:
        alts = spec.alternatives
        strides, classified = {}, []
    else:
        alts = (spec,)
        # loop-group vars (round 7): a var's rows across iterations are
        # the stride-L progression from its merged span; multi-branch
        # and nested groups (round 10) have no fixed stride and
        # reconstruct per row from the variable predicates
        strides = _loop_strides(spec)
        classified = _classified_var_idx(spec)
    need_classify = bool(classified) and (
        all_rows or any(m.fn in AGG_FNS for m in measure_list)
    )
    # SQL:2016 {- var -}: excluded variables still shape the match
    # (measures/skip/deadline unchanged) but emit no output rows
    class_names = {alts[0].variables[i].name for i in classified}
    emit_names = [
        [v.name for v in a.variables
         if not v.excluded and v.name not in class_names]
        for a in alts
    ]
    # the tag column only for a single pattern's ONE ROW output
    tagged = not (alternation or all_rows)
    match_tag = MATCH_TAG if tagged else None
    computed = {m.name for m in measure_list}
    computed |= {"classifier", "match_seq"} if all_rows else {"tag"}
    gathered = [f.name for f in out_schema.fields if f.name not in computed]

    def scan(pdf: pd.DataFrame, bounds) -> pd.DataFrame:
        measures = measure_list + [
            replace(m, name=null_flag(m.name), src=null_flag(m.src),
                    default=m.default is None)
            for m in float_nav
            if null_flag(m.src) in pdf
        ]
        running = [m for m in measures if m.running]
        ts_all, preds_all = _batch_arrays(pdf, n_preds)
        src_all, nulls_all = _src_arrays(pdf, measures)
        owned = None if owns_start is None else owns_start(pdf)
        rows: list[int] = []
        cols: dict[str, list] = {m.name: [] for m in measures}
        if all_rows:
            cols.update(classifier=[], match_seq=[])
        elif tagged:
            cols["tag"] = []
        found = match_batch(preds_all, ts_all, bounds)
        for (lo, hi), (matches, timeouts, alt_of) in zip(bounds, found):
            if owned is not None:
                matches = [m for m in matches if owned[lo + _first_row(m)]]
                timeouts = [t for t in timeouts if owned[lo + _first_row(t)]]
            if not matches and not timeouts:
                continue
            src = _slice_arrays(src_all, lo, hi)
            nulls = _slice_arrays(nulls_all, lo, hi)
            preds = preds_all[:, lo:hi]
            classify = _classify_preds(spec, preds) if need_classify else None
            values = _make_measure_eval(
                measures, subsets, src, nulls, loop_stride=strides,
                classify=classify,
            )
            if not all_rows:
                _append_one_row(
                    cols, rows, lo, values, matches, match_tag,
                    range(1, len(matches) + 1),
                )
                if timeouts:
                    _append_one_row(
                        cols, rows, lo, values, timeouts, TIMEOUT_TAG,
                        [None] * len(timeouts),
                    )
                continue
            for seq, match in enumerate(matches):
                emit_rows = [
                    (r, v)
                    for v in emit_names[alt_of[seq] if alt_of else 0]
                    if (sp := match.get(v)) is not None
                    for r in range(sp[0], sp[1] + 1, strides.get(v, 1))
                ]
                if classified:
                    emit_rows += _classified_rows(
                        spec, classified, match, preds
                    )
                emit_rows.sort(key=lambda t: t[0])
                run_series = _running_measures(
                    running, match,
                    lambda v: _actual_spans(
                        v, match, subset_map, strides, classify
                    ),
                    src, nulls,
                )
                _append_all_rows(
                    cols, rows, lo, emit_rows, seq, measures,
                    {name: value(match, seq + 1) for name, value in values},
                    run_series,
                )
        return _batch_frame(pdf, gathered, rows, cols, measure_list, out_schema)

    return scan


def match_pattern(df: DataFrame, spec: Spec) -> DataFrame:
    """Batch row-pattern recognition, the NFA reference for every batch
    tier. ``spec`` is a single pattern or a top-level alternation
    ``(P1 | P2 | ...)`` (one NFA per alternative advanced in lockstep
    per key group, the shared after-match strategy acting on the union
    of their partial matches — operators/nfa.py::
    scan_key_group_alternation).

    ONE ROW PER MATCH (FlinkSqlMatchRecognizeExample.scala:60): one row
    per match with the keys and the declared measures; a single pattern
    adds ``tag`` and, if ``spec.emit_timeouts``, one row per timed-out
    partial with ``tag='timeout'``. An alternation has no timeout
    channel and no ``tag``; a measure over a variable the matched
    alternative lacks yields NULL.

    ALL ROWS PER MATCH (SQL:2016): one row per matched INPUT row with
    every input column, ``classifier`` (the variable that consumed the
    row), a per-key ``match_seq`` (matches in start order) and the
    FINAL measures repeated on each row, RUNNING measures folded per
    row. It requires strict contiguity, so each variable's rows
    reconstruct from its (first, last) span; no timeouts are emitted
    (SQL has no timeout channel)."""
    return _scan_pattern(df, spec)


def _scan_pattern(df: DataFrame, spec: Spec, match_batch=None) -> DataFrame:
    """:func:`match_pattern`'s staging, partition scan and emission with
    the per-batch matcher ``match_batch`` (:data:`MatchBatch`; the NFA
    when None) — the one batch operator every matcher shares."""
    spec.validate()
    all_rows = rows_per_match(spec) == "all"
    if isinstance(spec, AlternationSpec):
        if all_rows and any(
            a.rows_per_match != "all" for a in spec.alternatives
        ):
            raise ValueError("aspec is not an ALL ROWS PER MATCH spec")
    elif all_rows and any(
        v.contiguity != STRICT for v in spec.variables[1:]
    ):
        raise NotImplementedError(
            "ALL ROWS PER MATCH requires strict contiguity"
        )
    if all_rows:
        out_schema = all_rows_output_schema(df, spec)
    else:
        out_schema = output_schema(df, spec)
        if isinstance(spec, AlternationSpec):
            out_schema = T.StructType(out_schema.fields[:-1])
    # sort on the order column itself, then derive the scan's columns:
    # a window over the same key and order below (the billing source's
    # balance lag) already sorts the rows so, and Catalyst keeps its one
    # Exchange and one Sort for both
    keys = list(spec.key_cols)
    ordered = sort_by_key(
        _with_nav_cols(df, spec),
        keys,
        [time_key(df, spec.order_col), spec.tiebreak_col],
    )
    return scan_sorted(
        ordered.selectExpr(*_stage_exprs(df, spec, all_rows)),
        keys,
        batch_scan(spec, out_schema, match_batch=match_batch),
        out_schema,
    )


def match_pattern_time_sliced(
    df: DataFrame,
    spec: PatternSpec,
    slice_duration=None,
) -> DataFrame:
    """Skew-resistant batch CEP: split each key's TIMELINE into slices
    and pattern-match the slices in parallel.

    The 100 TB problem this solves: ``match_pattern`` scans one key's
    rows sequentially inside one task, so a hot key (one user holding
    1% of a 100 TB stream) serializes. When the pattern carries a
    ``within`` deadline, no match spans more than ``within`` of event
    time — so the timeline can be cut into slices of ``slice_duration``
    (≥ within), each slice extended with the following ``within`` of
    rows (every row lands in ≤ 2 slices), and matched independently;
    a match belongs to the slice containing its FIRST row, which
    dedupes the overlap. The shuffle key becomes (key, slice): a hot
    key spreads over time-proportional many tasks.

    Soundness requires starts to be decided independently, so only the
    start-local strategies qualify: SKIP_TO_NEXT (emission discards
    same-start runs only — same slice by construction) and NO_SKIP.
    SKIP PAST LAST ROW threads a cursor through the whole timeline and
    must stay on the sequential operator. Timeout (absence) emission is
    start-local too and is supported.

    Default ``slice_duration`` = ``within`` (maximum parallelism at
    2× row replication worst case; longer slices replicate less).

    SIZING RULE: pick ``slice_duration`` so a typical (key, slice)
    group still holds MANY rows — the parallelism win must beat the
    per-group overhead. Slicing a sparse uniform corpus at ``within``
    shatters it into near-empty groups and the group machinery
    dominates (measured: 45 s vs 3 s on 2k sparse keys at a 1-hour
    slice; 4.5× FASTER than sequential on one 1M-row hot key at the
    same slice). This operator is the hot-key path; the sequential
    operator remains right for uniformly small keys.
    """
    from flink_cep_examples_spark.plans.pattern import (
        NO_SKIP,
        SKIP_TO_NEXT,
        parse_interval,
    )

    spec.validate()
    if spec.within is None:
        raise ValueError(
            "time-sliced matching needs within() (it bounds a match's "
            "event-time span — without it a match may cross any slice)"
        )
    if spec.after_match not in (SKIP_TO_NEXT, NO_SKIP):
        raise NotImplementedError(
            "time-sliced matching supports SKIP TO NEXT ROW / NO_SKIP "
            "(SKIP PAST LAST ROW threads a sequential cursor through "
            "the key's whole timeline)"
        )
    if any(m.fn == "match_number" for m in spec.measures):
        raise NotImplementedError(
            "MATCH_NUMBER() is a whole-timeline ordinal — not available "
            "on the sliced operator"
        )
    within_us = int(spec.within.total_seconds() * 1_000_000)
    slice_td = parse_interval(slice_duration) if slice_duration else spec.within
    slice_us = int(slice_td.total_seconds() * 1_000_000)
    if slice_us < within_us:
        raise ValueError(
            f"slice_duration ({slice_td}) must be >= within "
            f"({spec.within}) so a row lands in at most 2 slices"
        )

    prepared = _prepare(df, spec)
    # integer-exact floor division, correct for negative (pre-1970)
    # timestamps too: pmod is always in [0, slice_us), and
    # (ts - pmod) / slice_us is an exact integer
    offset = F.pmod(F.col(_TS_COL), F.lit(slice_us))
    home = ((F.col(_TS_COL) - offset) / F.lit(slice_us)).cast("long")
    # a row whose offset into its home slice is < within also serves
    # the PREVIOUS slice (it can extend/complete a match started there)
    also_prev = offset < F.lit(within_us)
    sliced = prepared.withColumn(
        "__slice",
        F.explode(
            F.when(
                also_prev, F.array(home, home - 1)
            ).otherwise(F.array(home))
        ),
    )

    out_schema = output_schema(df, spec)

    def owns_start(pdf: pd.DataFrame) -> np.ndarray:
        # home-slice ownership: a match belongs to the slice holding its
        # first row (numpy floor division, as the slice id above)
        ts = pdf[_TS_COL].to_numpy(dtype=np.int64)
        return ts // slice_us == pdf["__slice"].to_numpy()

    return grouped_partition_scan(
        sliced,
        [*spec.key_cols, "__slice"],
        [_TS_COL, spec.tiebreak_col],
        batch_scan(spec, out_schema, owns_start),
        out_schema,
    )
