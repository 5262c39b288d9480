"""Batch CEP operator: ``match_pattern(df, spec)``.

The Spark-side plumbing around the NFA core (operators/nfa.py), staged
for scale:

1. **Vectorized predicate precompute** — every DEFINE predicate is
   evaluated as a boolean column in a single ``select`` *before* the
   shuffle (Catalyst codegen, columnar). Python never evaluates a
   predicate (SURVEY §4: the single biggest perf lever).
2. **One shuffle** — ``repartition(key) + sortWithinPartitions(key,
   ts, tiebreak) + mapInPandas`` (operators/partition_scan.py): each
   Arrow batch holds whole, already-ordered key groups; its predicate
   and timestamp columns become numpy once, the NFA scans each key over
   array slices, and the batch yields ONE output frame.
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
    grouped_partition_scan,
    null_flag,
)
from flink_cep_examples_spark.schemas import MATCH_TAG, TIMEOUT_TAG

_PRED_PREFIX = "__cep_p_"
_TS_COL = "__cep_ts_ms"

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


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
    """``({var: bool_row}, multi_mask)`` for per-row row-set
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
    return (mats, counts > 1)


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
                raise NotImplementedError(
                    "aggregate/RUNNING measure over a multi-branch or "
                    "nested group variable reconstructs its row set "
                    "from the variable predicates and needs them "
                    "pairwise-disjoint on the matched rows"
                )
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


def _make_measure_eval(
    measure_list, subsets, src_arrays, loop_stride=None, classify=None
):
    """Shared measure evaluator (one-row + all-rows tiers): returns
    ``eval_measures(match, match_no) -> dict[name, value]``.

    ``match`` maps var name → (first_idx, last_idx, count, first_ord,
    last_ord); SUBSET names resolve to the union of their components'
    spans. Aggregates slice the contiguous [first_idx, last_idx] row
    range per component — sound because the spec validated strict
    contiguity. ``match_no`` is the 1-based per-key match ordinal
    (``None`` on timeout rows). RUNNING measures (ALL ROWS PER MATCH)
    are NOT handled here — see :func:`_running_series`."""
    import pandas as _pd

    subset_map = dict(subsets)

    def spans_of(var: str, match: dict) -> list:
        return _resolve_spans(var, match, subset_map)

    def eval_measures(match: dict, match_no) -> dict:
        out = {}
        classifier = None
        if any(m.fn == "classifier" for m in measure_list) and match:
            classifier = max(match.items(), key=lambda kv: kv[1][4])[0]
        for m in measure_list:
            if m.fn == "match_number":
                out[m.name] = match_no
                continue
            if m.fn == "classifier":
                out[m.name] = classifier
                continue
            spans = spans_of(m.var, match)
            if not spans:
                out[m.name] = 0 if m.fn in ("count", "count_col") else m.default
                continue
            if m.fn == "count":
                out[m.name] = sum(s[2] for s in spans)
            elif m.fn == "first":
                out[m.name] = src_arrays[m.src][spans[0][0]]
            elif m.fn == "last":
                # max by LAST ordinal, not the last-sorted-by-first
                # span's last — multi-branch group iterations
                # interleave the components (round 8), so the span
                # with the latest first row need not hold the latest
                # last row
                out[m.name] = src_arrays[m.src][
                    max(spans, key=lambda sp: sp[4])[1]
                ]
            else:  # aggregate over every consumed row (strict spans;
                # loop-group vars slice stride-L — round 8, the merged
                # span interleaves sibling iteration rows)
                arr = src_arrays[m.src]
                aspans = (
                    _actual_spans(
                        m.var, match, subset_map, loop_stride, classify
                    )
                    if loop_stride or classify is not None
                    else spans
                )
                vals = _pd.Series(
                    np.concatenate(
                        [arr[s[0] : s[1] + 1] for s in aspans]
                    )
                    if len(aspans) > 1
                    else arr[aspans[0][0] : aspans[0][1] + 1]
                )
                n = int(vals.count())
                if m.fn == "count_col":
                    out[m.name] = n
                elif n == 0:
                    out[m.name] = None  # SQL: aggregate over all-NULL
                elif m.fn == "sum":
                    out[m.name] = vals.sum()
                elif m.fn == "avg":
                    out[m.name] = float(vals.mean())
                elif m.fn == "min":
                    out[m.name] = vals.min()
                else:
                    out[m.name] = vals.max()
        return out

    return eval_measures


def _running_series(m: Measure, spans: list, arr, lo: int, hi: int) -> list:
    """RUNNING value of one measure for every row index in [lo, hi]:
    one incremental pass over the match (linear, not per-row
    re-aggregation). ``spans`` are the variable's ordered contiguous
    spans; ``arr`` the source column (None for count/count★)."""
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
                if not pd.isna(v):
                    n_vals += 1
                    if m.fn in ("sum", "avg"):
                        total = v if total is None else total + v
                    mn = v if mn is None or v < mn else mn
                    mx = v if mx is None or v > mx else mx
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
            # the exact running sum, converted once — mirrors the
            # FINAL path's float(vals.mean())
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


def _with_nav_cols(df: DataFrame, spec: PatternSpec) -> DataFrame:
    """Materialize PREV()/NEXT() navigation as lag/lead columns over
    the (key, order, tiebreak) window — the same ordering the NFA
    scans by, NULLs last, so ``PREV(x)`` is exactly the previous
    processed row. The window's hash partitioning on the keys is the
    SAME exchange the pattern operator needs next, so Catalyst reuses
    it (one shuffle total, plan-audited)."""
    if not spec.nav_cols:
        return df
    from pyspark.sql import Window

    w = Window.partitionBy(*spec.key_cols).orderBy(
        F.col(spec.order_col).cast(T.TimestampType()).asc_nulls_last(),
        F.col(spec.tiebreak_col).asc_nulls_last(),
    )
    return df.select(
        "*",
        *[
            (F.lag if kind == "prev" else F.lead)(src, off)
            .over(w)
            .alias(alias)
            for alias, src, off, kind in spec.nav_cols
        ],
    )


def _prepare(df: DataFrame, spec: PatternSpec) -> DataFrame:
    """Add vectorized predicate booleans + epoch-ms timestamp. Catalyst
    prunes every column the measures/keys don't need."""
    df = _with_nav_cols(df, spec)
    needed = {m.src for m in spec.measures if _needs_src(m)}
    needed.update(spec.key_cols)
    needed.add(spec.tiebreak_col)
    cols = [F.col(c) for c in sorted(needed)]
    cols.append(
        F.unix_micros(F.col(spec.order_col).cast(T.TimestampType())).alias(_TS_COL)
    )
    for i, e in enumerate(spec.pred_exprs):
        cols.append(F.expr(e).alias(f"{_PRED_PREFIX}{i}"))
    return df.select(*cols)


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


def _src_arrays(pdf: pd.DataFrame, measure_list) -> dict:
    return {m.src: pdf[m.src].to_numpy() for m in measure_list if _needs_src(m)}


def _slice_arrays(arrays: dict, lo: int, hi: int) -> dict:
    return {c: a[lo:hi] for c, a in arrays.items()}


def _append_one_row(cols, key_rows, lo, eval_measures, emitted) -> None:
    """Append one output row per ``(match, tag, match_no)`` of the key
    group starting at batch row ``lo`` (``tag`` None: no tag column)."""
    for match, tag, match_no in emitted:
        for name, val in eval_measures(match, match_no).items():
            cols[name].append(val)
        if tag is not None:
            cols["tag"].append(tag)
        key_rows.append(lo)


def _batch_frame(pdf, gathered, rows, cols, measure_list, out_schema):
    """The one output frame of a batch: the ``gathered`` input columns
    taken from ``pdf`` at batch rows ``rows`` (a key group's first row,
    or each emitted ALL ROWS row), then the computed ``cols``. A float
    key goes out masked by its ``isnull`` flag, so a NaN key stays NaN
    through Arrow instead of turning NULL."""
    idx = np.asarray(rows, dtype=np.intp)
    data = {c: pdf[c].to_numpy()[idx] for c in gathered}
    for c in gathered:
        if null_flag(c) in pdf:
            data[c] = pd.arrays.FloatingArray(
                data[c], pdf[null_flag(c)].to_numpy(dtype=bool)[idx]
            )
    data.update(cols)
    out = pd.DataFrame(data, columns=[f.name for f in out_schema.fields])
    _null_safe_agg_cast(out, measure_list, out_schema)
    return out


def _running_measures(running, match, spans_of, src_arrays) -> dict:
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
            _running_series(m, spans_of(m.var), src_arrays.get(m.src), lo, hi),
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


def match_pattern(df: DataFrame, spec: PatternSpec) -> DataFrame:
    """Batch row-pattern recognition. Returns one row per match (ONE ROW
    PER MATCH, FlinkSqlMatchRecognizeExample.scala:60) with the declared
    measures, plus (if ``spec.emit_timeouts``) one row per timed-out
    partial with ``tag='timeout'``."""
    spec.validate()
    prepared = _prepare(df, spec)
    out_schema = output_schema(df, spec)
    n_vars = len(spec.pred_exprs)
    # pre-compiled once; scan_key_group accepts the compiled Nfa so the
    # per-key-group path (possibly 10k+ groups) skips recompilation
    spec_bc = nfa.Nfa(spec)
    key_cols = list(spec.key_cols)
    measure_list = list(spec.measures)
    subsets = spec.subsets
    stride_map = _loop_strides(spec)
    # aggregate measures over multi-branch / nested group vars (round
    # 10): their row sets reconstruct per row from the predicates
    need_classify = bool(_classified_var_idx(spec)) and any(
        m.fn in AGG_FNS for m in measure_list
    )

    def scan(pdf: pd.DataFrame, bounds) -> pd.DataFrame:
        ts_all, preds_all = _batch_arrays(pdf, n_vars)
        src_all = _src_arrays(pdf, measure_list)
        key_rows: list[int] = []
        cols: dict[str, list] = {m.name: [] for m in measure_list}
        cols["tag"] = []
        for lo, hi in bounds:
            preds = preds_all[:, lo:hi]
            matches, timeouts = nfa.scan_key_group(spec_bc, preds, ts_all[lo:hi])
            if not matches and not timeouts:
                continue
            if spec_bc.longest and len(matches) > 1:
                # held resolution can emit a blocked earlier start AFTER
                # a later unblocked one (SKIP TO NEXT ROW) — renumber by
                # (start, end) ordinal so MATCH_NUMBER is SQL:2016 start
                # order, as the alternation tiers already do
                matches.sort(
                    key=lambda m: (
                        min(sp[3] for sp in m.values()),
                        max(sp[4] for sp in m.values()),
                    )
                )
            eval_measures = _make_measure_eval(
                measure_list, subsets, _slice_arrays(src_all, lo, hi),
                loop_stride=stride_map,
                classify=_classify_preds(spec, preds) if need_classify else None,
            )
            emitted = [(m, MATCH_TAG, i + 1) for i, m in enumerate(matches)]
            emitted += [(to, TIMEOUT_TAG, None) for to in timeouts]
            _append_one_row(cols, key_rows, lo, eval_measures, emitted)
        return _batch_frame(pdf, key_cols, key_rows, cols, measure_list, out_schema)

    return grouped_partition_scan(
        prepared, key_cols, [_TS_COL, spec.tiebreak_col], scan, out_schema
    )


def match_pattern_alternation(df: DataFrame, aspec: AlternationSpec) -> DataFrame:
    """Batch row-pattern recognition for a top-level PATTERN
    alternation ``(P1 | P2 | ...)``: one NFA per alternative advanced
    in lockstep per key group, the shared after-match strategy acting
    on the union of their partial matches
    (operators/nfa.py::scan_key_group_alternation).

    Same Spark staging as :func:`match_pattern` — every alternative's
    DEFINE predicates are evaluated vectorized in ONE pre-shuffle
    ``select`` (the predicate column list is simply the concatenation
    of the alternatives'), one hash Exchange on the keys, measures
    projected per matched alternative (a measure over a variable the
    matched alternative lacks yields NULL)."""
    aspec.validate()
    key_cols = list(aspec.key_cols)
    measure_list = list(aspec.measures)
    alts = aspec.alternatives

    offsets: list[tuple[int, int]] = []  # (start, n_preds) per alternative
    pos = 0
    for alt in alts:
        offsets.append((pos, len(alt.pred_exprs)))
        pos += len(alt.pred_exprs)

    # AlternationSpec exposes the derived pred_exprs / nav_cols /
    # subsets views, so the staging is EXACTLY PatternSpec's (one
    # shared _prepare — no drift between the operators)
    prepared = _prepare(df, aspec)

    # same output schema as the single-spec operator, minus the tag
    # column (alternation has no timeout channel)
    out_schema = T.StructType(output_schema(df, aspec).fields[:-1])

    nfas = [nfa.Nfa(alt) for alt in alts]
    after = aspec.after_match
    derivation = aspec.derivation
    n_total = pos

    def scan(pdf: pd.DataFrame, bounds) -> pd.DataFrame:
        ts_all, preds_all = _batch_arrays(pdf, n_total)
        src_all = _src_arrays(pdf, measure_list)
        key_rows: list[int] = []
        cols: dict[str, list] = {m.name: [] for m in measure_list}
        for lo, hi in bounds:
            preds_list = [preds_all[s : s + k, lo:hi] for s, k in offsets]
            matched = nfa.scan_key_group_alternation(
                nfas, preds_list, ts_all[lo:hi], after, derivation
            )
            if not matched:
                continue
            matched.sort(key=_alternation_order)
            eval_measures = _make_measure_eval(
                measure_list, aspec.subsets, _slice_arrays(src_all, lo, hi)
            )
            _append_one_row(
                cols, key_rows, lo, eval_measures,
                [(m, None, i + 1) for i, (_, m) in enumerate(matched)],
            )
        return _batch_frame(pdf, key_cols, key_rows, cols, measure_list, out_schema)

    return grouped_partition_scan(
        prepared, key_cols, [_TS_COL, aspec.tiebreak_col], scan, out_schema
    )


def match_pattern_alternation_all_rows(
    df: DataFrame, aspec: AlternationSpec
) -> DataFrame:
    """ALL ROWS PER MATCH for a top-level alternation (round 5): one
    output row per matched INPUT row with every input column,
    ``classifier`` (the matched alternative's variable that consumed
    the row), per-key ``match_seq`` (matches ordered by start then end
    position — deterministic across derivations), and FINAL measures
    repeated per row. Requires fixed-width strict alternatives
    (validated): each variable's rows are then a contiguous index
    span, so the row set reconstructs from (first, last) spans.
    Excluded ``{- var -}`` copies shape the match but emit no rows,
    exactly as in the single-pattern tier."""
    aspec.validate()
    if any(alt.rows_per_match != "all" for alt in aspec.alternatives):
        raise ValueError("aspec is not an ALL ROWS PER MATCH spec")
    key_cols = list(aspec.key_cols)
    measure_list = list(aspec.measures)
    alts = aspec.alternatives
    data_cols = list(df.columns)

    offsets: list[tuple[int, int]] = []
    pos = 0
    for alt in alts:
        offsets.append((pos, len(alt.pred_exprs)))
        pos += len(alt.pred_exprs)
    n_total = pos

    prepared = _with_nav_cols(df, aspec).select(
        *data_cols,
        F.unix_micros(
            F.col(aspec.order_col).cast(T.TimestampType())
        ).alias(_TS_COL),
        *[
            F.expr(e).alias(f"{_PRED_PREFIX}{i}")
            for i, e in enumerate(aspec.pred_exprs)
        ],
    )
    out_schema = all_rows_output_schema(df, aspec)
    nfas = [nfa.Nfa(alt) for alt in alts]
    after = aspec.after_match
    derivation = aspec.derivation
    emit_names = [
        [v.name for v in alt.variables if not v.excluded] for alt in alts
    ]
    subset_map = dict(aspec.subsets)
    running = [m for m in measure_list if m.running]

    def scan(pdf: pd.DataFrame, bounds) -> pd.DataFrame:
        ts_all, preds_all = _batch_arrays(pdf, n_total)
        src_all = _src_arrays(pdf, measure_list)
        out_rows: list[int] = []
        cols: dict[str, list] = {"classifier": [], "match_seq": []}
        cols.update({m.name: [] for m in measure_list})
        for lo, hi in bounds:
            preds_list = [preds_all[s : s + k, lo:hi] for s, k in offsets]
            matched = nfa.scan_key_group_alternation(
                nfas, preds_list, ts_all[lo:hi], after, derivation
            )
            if not matched:
                continue
            # deterministic numbering across derivations: matches
            # ordered by (start, end) position, not emission order
            matched.sort(key=_alternation_order)
            src_arrays = _slice_arrays(src_all, lo, hi)
            eval_measures = _make_measure_eval(
                measure_list, aspec.subsets, src_arrays
            )
            for seq, (a, match) in enumerate(matched):
                run_series = _running_measures(
                    running, match,
                    lambda v: _resolve_spans(v, match, subset_map),
                    src_arrays,
                )
                emit_rows = [
                    (r, vname)
                    for vname in emit_names[a]
                    if (span := match.get(vname)) is not None
                    for r in range(span[0], span[1] + 1)
                ]
                _append_all_rows(
                    cols, out_rows, lo, emit_rows, seq, measure_list,
                    eval_measures(match, seq + 1), run_series,
                )
        return _batch_frame(pdf, data_cols, out_rows, cols, measure_list, out_schema)

    return grouped_partition_scan(
        prepared, key_cols, [_TS_COL, aspec.tiebreak_col], scan, out_schema
    )


def match_pattern_all_rows(df: DataFrame, spec: PatternSpec) -> DataFrame:
    """ALL ROWS PER MATCH (SQL:2016): one output row per matched INPUT
    row, carrying every input column plus ``classifier`` (the pattern
    variable that consumed the row), a per-key ``match_seq``, and the
    measures with FINAL semantics (whole-match values repeated on each
    row).

    Requires strict contiguity (MATCH_RECOGNIZE's own model): each
    variable's consumed rows are then exactly the contiguous index span
    the NFA recorded, so the row set reconstructs from (first, last)
    spans without storing per-row payloads. Timeout side outputs do not
    exist in this mode (SQL has no timeout channel)."""
    spec.validate()
    if any(v.contiguity != STRICT for v in spec.variables[1:]):
        raise NotImplementedError(
            "ALL ROWS PER MATCH requires strict contiguity"
        )
    data_cols = list(df.columns)
    prepared = _with_nav_cols(df, spec).select(
        *data_cols,
        F.unix_micros(F.col(spec.order_col).cast(T.TimestampType())).alias(_TS_COL),
        *[
            F.expr(e).alias(f"{_PRED_PREFIX}{i}")
            for i, e in enumerate(spec.pred_exprs)
        ],
    )
    out_schema = all_rows_output_schema(df, spec)
    n_vars = len(spec.pred_exprs)
    compiled = nfa.Nfa(spec)
    measure_list = list(spec.measures)
    subsets = spec.subsets
    key_cols = list(spec.key_cols)
    # SQL:2016 {- var -}: excluded variables still shape the match
    # (measures/skip/deadline unchanged) but emit no output rows
    emit_names = [v.name for v in spec.variables if not v.excluded]
    # loop-group vars (round 7): a var's rows across iterations are the
    # stride-L progression from its merged span (exactly-once + strict
    # body, validated), NOT the contiguous range — L = group width.
    # MULTI-BRANCH and NESTED groups (round 10) have no fixed stride:
    # their vars skip the stride expansion entirely and emit via
    # per-row predicate classification below (aggregate/RUNNING
    # measures over them are rejected in validate, so loop_stride
    # never feeds _actual_spans).
    classified_idx = _classified_var_idx(spec)
    classified_names = [spec.variables[i].name for i in classified_idx]
    classified_set = set(classified_names)
    var_excluded = {
        spec.variables[i].name: spec.variables[i].excluded
        for i in classified_idx
    }
    loop_stride = _loop_strides(spec)
    subset_map = dict(subsets)
    running = [m for m in measure_list if m.running]

    def scan(pdf: pd.DataFrame, bounds) -> pd.DataFrame:
        ts_all, preds_all = _batch_arrays(pdf, n_vars)
        src_all = _src_arrays(pdf, measure_list)
        out_rows: list[int] = []
        cols: dict[str, list] = {"classifier": [], "match_seq": []}
        cols.update({m.name: [] for m in measure_list})
        for lo, hi in bounds:
            preds = preds_all[:, lo:hi]
            matches, _ = nfa.scan_key_group(compiled, preds, ts_all[lo:hi])
            if not matches:
                continue
            if compiled.longest and len(matches) > 1:
                # same renumbering as match_pattern: held resolution can
                # emit starts out of order — match_seq is SQL:2016
                # (start, end) order
                matches.sort(
                    key=lambda mm: (
                        min(sp[3] for sp in mm.values()),
                        max(sp[4] for sp in mm.values()),
                    )
                )
            src_arrays = _slice_arrays(src_all, lo, hi)
            classify_t = (
                _classify_preds(spec, preds) if classified_idx else None
            )
            eval_measures = _make_measure_eval(
                measure_list, subsets, src_arrays, loop_stride=loop_stride,
                classify=classify_t,
            )
            for seq, match in enumerate(matches):
                run_series = _running_measures(
                    running, match,
                    lambda v: _actual_spans(
                        v, match, subset_map, loop_stride, classify_t
                    ),
                    src_arrays,
                )
                emit_rows: list[tuple[int, str]] = []
                for vname in emit_names:
                    if vname in classified_set:
                        continue  # no fixed stride: classify per row below
                    span = match.get(vname)
                    if span is None:
                        continue
                    stride = loop_stride.get(vname, 1)
                    emit_rows.extend(
                        (r, vname)
                        for r in range(span[0], span[1] + 1, stride)
                    )
                if classified_idx:
                    # multi-branch / NESTED group (round 10): iterations
                    # have no fixed stride, but strict contiguity means
                    # every row between the group vars' first and last
                    # was consumed by exactly one of them — and under
                    # disjoint predicates THAT var is the unique one
                    # whose predicate holds at the row. Ambiguity is a
                    # loud reject (the NFA does not record per-row
                    # assignments).
                    present = [
                        match[v] for v in classified_names if v in match
                    ]
                    if present:
                        blo = min(sp[0] for sp in present)
                        bhi = max(sp[1] for sp in present)
                        for r in range(blo, bhi + 1):
                            hits = [
                                vi for vi in classified_idx if preds[vi][r]
                            ]
                            if len(hits) != 1:
                                raise NotImplementedError(
                                    "ALL ROWS PER MATCH with a multi-branch"
                                    " or nested unbounded group "
                                    "reconstructs per-row CLASSIFIER from "
                                    "the variable predicates and needs "
                                    "them pairwise-disjoint on the matched "
                                    f"rows (a row satisfied {len(hits)} "
                                    "group-variable predicates)"
                                )
                            vn = spec.variables[hits[0]].name
                            if not var_excluded.get(vn, False):
                                emit_rows.append((r, vn))
                emit_rows.sort(key=lambda t: t[0])
                _append_all_rows(
                    cols, out_rows, lo, emit_rows, seq, measure_list,
                    eval_measures(match, seq + 1), run_series,
                )
        return _batch_frame(pdf, data_cols, out_rows, cols, measure_list, out_schema)

    return grouped_partition_scan(
        prepared, key_cols, [_TS_COL, spec.tiebreak_col], scan, out_schema
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
    n_vars = len(spec.pred_exprs)
    compiled = nfa.Nfa(spec)
    key_cols = list(spec.key_cols)
    measure_list = list(spec.measures)
    subsets = spec.subsets
    stride_map = _loop_strides(spec)
    need_classify = bool(_classified_var_idx(spec)) and any(
        m.fn in AGG_FNS for m in measure_list
    )

    def scan(pdf: pd.DataFrame, bounds) -> pd.DataFrame:
        ts_all, preds_all = _batch_arrays(pdf, n_vars)
        src_all = _src_arrays(pdf, measure_list)
        slice_ids = pdf["__slice"].to_numpy()
        key_rows: list[int] = []
        cols: dict[str, list] = {m.name: [] for m in measure_list}
        cols["tag"] = []
        for lo, hi in bounds:
            preds, ts = preds_all[:, lo:hi], ts_all[lo:hi]
            matches, timeouts = nfa.scan_key_group(compiled, preds, ts)
            s_lo = int(slice_ids[lo]) * slice_us
            s_hi = s_lo + slice_us

            def home(match: dict) -> bool:
                # home-slice ownership: the match's first row decides
                return s_lo <= ts[min(s[0] for s in match.values())] < s_hi

            emitted = [(m, MATCH_TAG, None) for m in matches if home(m)]
            emitted += [(to, TIMEOUT_TAG, None) for to in timeouts if home(to)]
            if not emitted:
                continue
            eval_measures = _make_measure_eval(
                measure_list, subsets, _slice_arrays(src_all, lo, hi),
                loop_stride=stride_map,
                classify=_classify_preds(spec, preds) if need_classify else None,
            )
            _append_one_row(cols, key_rows, lo, eval_measures, emitted)
        return _batch_frame(pdf, key_cols, key_rows, cols, measure_list, out_schema)

    return grouped_partition_scan(
        sliced,
        [*key_cols, "__slice"],
        [_TS_COL, spec.tiebreak_col],
        scan,
        out_schema,
    )
