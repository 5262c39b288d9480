"""Compiled kernels for the shapes the regex tier does not serve.

Each kernel is exact, by a derivation from the NFA semantics
(operators/nfa.py), on the shapes its ``*_applicable`` check admits:
the window closed forms with one hash Exchange on the key and no Python
(timed absence; positional skips over dense all-true fixed-width
patterns, which the regex tier matches too, but only after a Python
scan of every row), the group-absence scan, whose timeouts are partial
matches a regex does not report, and the two ALL ROWS PER MATCH chain
kernels (loop chain, branch islands), whose RUNNING measures are
segmented numpy series rather than the NFA operator's per-row walk. The tier table
(operators/planner.py) is their only dispatcher: it runs a kernel after
its structural and data checks pass, the regex tier
(operators/regex_scan.py) or the NFA reference otherwise. Differential
tests pin each kernel to the NFA's output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_cep_examples_spark.operators.cep_batch import (
    batch_scan,
    output_schema,
)
from flink_cep_examples_spark.operators.partition_scan import (
    group_bounds,
    key_starts,
    scan_order,
    sort_by_key,
)
from flink_cep_examples_spark.plans.pattern import (
    AGG_FNS,
    NILADIC_FNS,
    NO_SKIP,
    ONCE,
    RELAXED,
    SKIP_PAST_LAST_EVENT,
    SKIP_TO_FIRST,
    SKIP_TO_LAST,
    SKIP_TO_NEXT,
    STRICT,
    TIMES,
    Measure,
    PatternSpec,
)
from flink_cep_examples_spark.schemas import MATCH_TAG, TIMEOUT_TAG

#: source types the ALL ROWS kernels' RUNNING SUM/AVG/MIN/MAX accept:
#: their float64 series skip NaN, where Spark SQL treats NaN as a value,
#: so float sources run on the regex tier or the NFA instead; decimals
#: and other objects keep the NFA operator's exact reductions
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def fast_absence_applicable(spec: PatternSpec) -> bool:
    """Timed-absence shape: ``A notFollowedBy(N) within T`` — one
    positive once-variable with a single trailing relaxed negative and
    a deadline. Match = every A row with no N row between it (in
    (order, tiebreak) position) and its deadline; runs never interact,
    so NO_SKIP and SKIP_TO_NEXT coincide and both are eligible."""
    v = spec.variables
    return (
        not spec.loop_groups
        and len(v) == 2
        and not v[0].negated
        and v[0].quantifier == ONCE
        and v[1].negated
        and v[1].contiguity == RELAXED
        and not spec.nav_cols
        and spec.within is not None
        and spec.after_match in (NO_SKIP, SKIP_TO_NEXT)
        and not spec.emit_timeouts
        and all(
            m.var == v[0].name and m.fn in ("first", "last")
            for m in spec.measures
        )
    )


def match_pattern_fast_absence(df: DataFrame, spec: PatternSpec) -> DataFrame:
    """Closed form for the timed-absence shape, provable from the NFA
    semantics (operators/nfa.py): an A row spawns a run whose single
    pending completion is voided by the first N row arriving before the
    deadline and emitted by ``advance_time`` otherwise (strict ``<`` on
    the deadline, so an N at exactly ``start + within`` does not void).
    Hence match ⇔ ``is_a AND (next_n_ts IS NULL OR next_n_ts - ts >=
    within)`` where ``next_n_ts`` is the first following N row in
    (order, tiebreak) position — one window over one hash Exchange on
    the key, zero Python, whole-stage codegen end-to-end. Measured
    2.5-3.5× the NFA tier at sf0.1 (±40% host-noise band); the NFA
    remains the differential-tested fallback."""
    if not fast_absence_applicable(spec):
        raise ValueError("pattern not eligible for the timed-absence fast path")
    spec.validate()
    a_v, n_v = spec.variables
    keys = list(spec.key_cols)
    within_us = int(spec.within.total_seconds() * 1_000_000)

    srcs = sorted({m.src for m in spec.measures} - set(keys))
    base = df.select(
        *keys,
        F.unix_micros(F.col(spec.order_col).cast(T.TimestampType())).alias("__ts"),
        F.col(spec.tiebreak_col).alias("__tb"),
        F.expr(a_v.predicate).alias("__is_a"),
        F.expr(n_v.predicate).alias("__is_n"),
        *srcs,
    )
    w_ord = Window.partitionBy(*keys).orderBy(*scan_order("__ts", "__tb"))
    next_n = F.min(F.when(F.col("__is_n"), F.col("__ts"))).over(
        w_ord.rowsBetween(1, Window.unboundedFollowing)
    )
    clean = F.col("__next_n").isNull() | (
        (F.col("__next_n") - F.col("__ts")) >= F.lit(within_us)
    )
    out = (
        base.withColumn("__next_n", next_n)
        .filter(F.col("__is_a") & clean)
        .select(
            *keys,
            *[F.col(m.src).alias(m.name) for m in spec.measures],
            F.lit(MATCH_TAG).alias("tag"),
        )
    )
    target = output_schema(df, spec)
    return out.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in target.fields]
    )


# ---------------------------------------------------------------------------
# Positional closed form: dense fixed-length patterns under any
# positional AFTER MATCH SKIP strategy
# ---------------------------------------------------------------------------


def _fixed_counts(spec: PatternSpec) -> list[int] | None:
    """Per-variable exact row counts when every variable is fixed-width
    (ONCE, or times(n, n) with n >= 1); None otherwise."""
    if spec.loop_groups:
        return None  # unbounded iterations are never fixed-width
    counts: list[int] = []
    for v in spec.variables:
        if v.negated or v.until is not None or v.combinations:
            return None
        if v.quantifier == ONCE:
            counts.append(1)
        elif v.quantifier == TIMES and v.times[1] == v.times[0] >= 1:
            counts.append(v.times[0])
        else:
            return None
    return counts


def _is_const_true(pred: str) -> bool:
    p = pred.strip().lower()
    while p.startswith("(") and p.endswith(")"):
        p = p[1:-1].strip()
    return p == "true"


def _positional_delta(spec: PatternSpec, counts: list[int]) -> int | None:
    """Row stride between consecutive match starts for the spec's skip
    strategy, or None when the strategy isn't positional / the stride
    would be 0 (SKIP TO FIRST of the begin variable — Flink raises on
    that loop; we leave it to the NFA tier)."""
    total = sum(counts)
    if spec.after_match == SKIP_PAST_LAST_EVENT:
        return total
    if spec.after_match in (SKIP_TO_NEXT, NO_SKIP):
        # deterministic fixed-width all-true patterns yield exactly one
        # match per start row, so NO_SKIP coincides with SKIP TO NEXT
        return 1
    if spec.after_match in (SKIP_TO_FIRST, SKIP_TO_LAST):
        i = spec.var_index(spec.skip_var)
        start = sum(counts[:i])
        delta = start if spec.after_match == SKIP_TO_FIRST else start + counts[i] - 1
        return delta if delta >= 1 else None
    return None


def fast_positional_applicable(spec: PatternSpec) -> bool:
    """Dense fixed-length shape: every variable fixed-width with a
    constant-true predicate (so every row plays every role and matching
    is pure row arithmetic), no deadline, no timeouts, one row per
    match, and a positional skip stride >= 1. With all-true predicates
    relaxed contiguity degenerates to strict (there is never a
    non-matching row to skip), so both contiguities qualify."""
    counts = _fixed_counts(spec)
    return (
        counts is not None
        and not spec.loop_groups  # iterations are not fixed-length rows
        and all(_is_const_true(v.predicate) for v in spec.variables)
        and spec.within is None
        and not spec.emit_timeouts
        and spec.rows_per_match == "one"
        and _positional_delta(spec, counts) is not None
        and not spec.nav_cols
        and not spec.subsets  # SUBSET vars resolve only in the NFA tier
        and all(m.fn in ("first", "last", "count") for m in spec.measures)
    )


def match_pattern_fast_positional(df: DataFrame, spec: PatternSpec) -> DataFrame:
    """Closed form for the dense fixed-length shape, provable from the
    NFA semantics (operators/nfa.py): with all-true predicates every
    per-key position r (0-based, (order, tiebreak) rank) starts a
    candidate match spanning rows ``[r, r + L)`` where ``L = sum of
    the fixed variable widths``; the one-match-per-run resumption makes
    the accepted starts exactly ``r ≡ 0 (mod delta)`` with ``delta``
    the skip stride (SKIP PAST LAST → L, SKIP TO NEXT → 1, SKIP TO
    FIRST/LAST v → v's first/last row offset — e.g. ``A B{2} C SKIP TO
    LAST B`` resumes at the penultimate row, starts 0, 2, 4, ...).
    Variable v's rows sit at constant offsets ``[start_v, start_v +
    count_v)``, so first/last measures are ``lead(src, offset)`` and
    count measures are literals. One window over one hash Exchange on
    the key, zero Python — the same row-ordinal algebra as the DuckDB
    oracle (queries/cep.py ORACLE_SKIP_TO_LAST); the NFA tier is the
    differential-tested fallback for everything non-dense."""
    if not fast_positional_applicable(spec):
        raise ValueError("pattern not eligible for the positional fast path")
    spec.validate()
    counts = _fixed_counts(spec)
    delta = _positional_delta(spec, counts)
    total = sum(counts)
    starts = {
        v.name: sum(counts[:i]) for i, v in enumerate(spec.variables)
    }
    widths = {v.name: counts[i] for i, v in enumerate(spec.variables)}
    keys = list(spec.key_cols)

    srcs = sorted(
        {m.src for m in spec.measures if m.fn != "count"} - set(keys)
    )
    base = df.select(
        *keys,
        F.unix_micros(F.col(spec.order_col).cast(T.TimestampType())).alias("__ts"),
        F.col(spec.tiebreak_col).alias("__tb"),
        *srcs,
    )
    w_ord = Window.partitionBy(*keys).orderBy(*scan_order("__ts", "__tb"))

    def measure(m: Measure):
        if m.fn == "count":
            return F.lit(widths[m.var]).cast("long")
        off = starts[m.var]
        if m.fn == "last":
            off += widths[m.var] - 1
        return F.col(m.src) if off == 0 else F.lead(m.src, off).over(w_ord)

    r0 = F.row_number().over(w_ord) - 1
    # the match fits iff the last row exists: lead of a non-null
    # literal at offset L-1 — avoids a second count() window frame
    fits = F.lead(F.lit(True), total - 1).over(w_ord).isNotNull()
    out = (
        base.withColumn("__r0", r0)
        .withColumn("__fits", fits)
        .withColumns({f"__m_{m.name}": measure(m) for m in spec.measures})
        .filter((F.col("__r0") % F.lit(delta) == 0) & F.col("__fits"))
        .select(
            *keys,
            *[F.col(f"__m_{m.name}").alias(m.name) for m in spec.measures],
            F.lit(MATCH_TAG).alias("tag"),
        )
    )
    target = output_schema(df, spec)
    return out.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in target.fields]
    )


# ---------------------------------------------------------------------------
# Trailing-loop-group LONGEST derivation — (P1 .. Ps (X1 .. XL)+)
# ---------------------------------------------------------------------------


def fast_loop_chain_applicable(spec) -> bool:
    """The pattern shape of the loop-chain ALL ROWS kernel
    (:func:`fast_loop_chain_all_rows_applicable` calls it on the spec's
    ONE ROW form): an unbounded loop group under SQL:2016 LONGEST
    derivation, ``PATTERN (P1 .. Ps (X1 .. XL)+ S1 .. Sf)`` — a
    (possibly empty) prefix and suffix of exactly-once strict variables
    around one loop group (``{n,}`` parses to this shape: n-1 unrolled
    prefix copies + a ``+`` group —
    sql/match_recognize.py::_expand_group_quantifiers).

    With every variable exactly-once and strict contiguity, a k-
    iteration match from start row r occupies rows r .. r+s+kL+f-1
    with NO nondeterminism in row→variable assignment (positionally
    forced), so the NFA's most-iterations held resolution
    (operators/nfa.py::_resolve_helds) reduces to row arithmetic:
    maximal stride-L run of valid body chunks (f = 0), or
    backtracking-greedy against the suffix anchor (f ≥ 1,
    :func:`_strided_chain_suffix`), with a ``WITHIN`` deadline as one
    more per-start iteration cap (:func:`_segment_deadline_limit`).
    """
    if not isinstance(spec, PatternSpec) or spec.derivation != "longest":
        return False
    if spec.permute or spec.emit_timeouts or spec.rows_per_match != "one":
        return False
    if len(spec.loop_groups) != 1:
        return False
    lb = getattr(spec, "loop_branches", ())
    if lb:
        # multi-branch group (A B | C D)+ (round 8): EQUAL-width
        # branches keep a fixed row stride; mixed widths have none
        if len({e - b_s + 1 for b_s, e in lb}) != 1:
            return False
    if spec.after_match not in (SKIP_PAST_LAST_EVENT, SKIP_TO_NEXT, NO_SKIP):
        return False
    for i, v in enumerate(spec.variables):
        if v.negated or v.until is not None or v.quantifier != ONCE:
            return False
        if i > 0 and v.contiguity != STRICT:
            return False
        if v.loop_contiguity not in (None, STRICT):
            return False
    names = {v.name for v in spec.variables}
    subset_map = dict(spec.subsets)
    for m in spec.measures:
        if m.running:
            return False
        if m.fn in NILADIC_FNS:
            continue
        if m.fn not in ("first", "last", "count") + AGG_FNS:
            return False
        # aggregates: prefix/suffix vars are single rows, single-body
        # loop vars their stride-L rows
        comps = subset_map.get(m.var, (m.var,))
        if not all(c in names for c in comps):
            return False
    return True


def _strided_chain(body_ok, seg_id, pos_in_seg, L: int):
    """chain[t] = number of consecutive valid body chunks starting at t
    stepping by L WITHIN t's key segment: chain[t] = 0 if not
    body_ok[t] else 1 + chain[t+L] (0 past the segment). Fully
    vectorized: one lexsort groups rows by (segment, pos mod L) — group
    members are exactly L apart in row order — then a barrier-masked
    reverse run-length scan (np.maximum.accumulate) computes forward
    run lengths per group. O(n log n), no Python per row."""
    import numpy as np

    n = len(body_ok)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    grp = seg_id * np.int64(L) + (pos_in_seg % L)
    order = np.lexsort((np.arange(n), grp))
    b = body_ok[order]
    g = grp[order]
    # reverse so "run starting at t going forward" becomes "run ending
    # at t" — computable with a running barrier
    br = b[::-1]
    gr = g[::-1]
    idx1 = np.arange(1, n + 1, dtype=np.int64)
    new_grp_r = np.empty(n, dtype=bool)
    new_grp_r[0] = True
    new_grp_r[1:] = gr[1:] != gr[:-1]
    # barrier: position after the last False / group boundary
    bar = np.where(br, np.where(new_grp_r, idx1 - 1, 0), idx1)
    last_bar = np.maximum.accumulate(bar)
    count_r = np.where(br, idx1 - last_bar, 0)
    chain = np.empty(n, dtype=np.int64)
    chain[order] = count_r[::-1]
    return chain


def _segment_deadline_limit(ts_us, seg_id, within_us: int):
    """limit[t] = absolute index of the first row u ≥ t in t's key
    segment with ``ts[u] >= ts[t] + within_us`` (segment end + 1 when
    none) — so rows t .. limit[t]-1 are exactly the segment rows a
    ``WITHIN`` match starting at t may span (strict ``<``, matching the
    NFA's ``ts - start >= within`` pruning, operators/nfa.py
    ``advance_time``; fixture-pinned).

    Fully vectorized merge-count: one lexsort of 2n (segment, value,
    kind) entries — each row contributes its ts as an ARRAY entry and
    ``ts + within`` as a QUERY entry; queries sort before equal array
    values (side='left', preserving the strict inequality), and the
    running count of array entries before a query IS the absolute
    limit, because array entries of earlier segments all sort earlier
    and number exactly the segment's start offset. No per-segment
    Python loop. (The query keys ARE ``ts + within`` offsets — fine
    for realistic microsecond epochs, but an adversarial ts near
    int64 max would wrap; timestamps come from Spark TIMESTAMP
    columns, bounded far below that.)"""
    import numpy as np

    n = len(ts_us)
    vals = np.concatenate([ts_us, ts_us + np.int64(within_us)])
    segs = np.concatenate([seg_id, seg_id])
    kind = np.empty(2 * n, dtype=np.int8)  # 1 = array entry, 0 = query
    kind[:n] = 1
    kind[n:] = 0
    order = np.lexsort((kind, vals, segs))
    is_arr = kind[order] == 1
    before = np.cumsum(is_arr) - is_arr  # array entries strictly before
    pos = np.empty(2 * n, dtype=np.int64)
    pos[order] = before
    return pos[n:]  # per original row: its query's limit


def _strided_chain_suffix(
    body_ok, suffix_ok, seg_id, pos_in_seg, L: int, k_cap=None
):
    """g[t] = max k ≥ 0 with body_ok at t, t+L, .., t+(k-1)L and
    suffix_ok at t+kL, all within t's (segment, t mod L) class; -1
    when no k qualifies — the backtracking-greedy iteration count for
    a loop group followed by a fixed suffix (take as many iterations
    as possible such that the suffix still matches; SQL:2016 greedy
    preferment with the rest-of-pattern constraint).

    Vectorized like :func:`_strided_chain`: within each class (sorted,
    members exactly L rows apart), R_j = forward body-run length at j,
    so the valid suffix ANCHORS for j are the suffix_ok members of
    [j, min(j + R_j, class end)] (the anchor row is consumed by the
    suffix, not the body). Greedy k = (farthest anchor) − j — one
    sorted-array searchsorted for the whole partition.

    ``k_cap`` (round 8, optional int64[n] indexed by body-start row):
    per-start upper bound on the iteration count — the ``WITHIN``
    deadline cap. The anchor search window shrinks to
    ``idx + min(R_j, k_cap[j])``; a negative cap admits no anchor
    (the suffix itself would breach the deadline) → -1."""
    import numpy as np

    n = len(body_ok)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    R = _strided_chain(body_ok, seg_id, pos_in_seg, L)
    grp = seg_id * np.int64(L) + (pos_in_seg % L)
    order = np.lexsort((np.arange(n), grp))
    g_grp = grp[order]
    R_s = R[order]
    sfx_s = suffix_ok[order]
    idx = np.arange(n, dtype=np.int64)
    new_grp = np.empty(n, dtype=bool)
    new_grp[0] = True
    new_grp[1:] = g_grp[1:] != g_grp[:-1]
    cls_idx = np.cumsum(new_grp) - 1
    starts_c = np.flatnonzero(new_grp)
    ends_c = np.append(starts_c[1:] - 1, n - 1)
    cls_end = ends_c[cls_idx]
    steps = R_s if k_cap is None else np.minimum(R_s, k_cap[order])
    hi = np.minimum(idx + steps, cls_end)
    anchors = np.flatnonzero(sfx_s)
    if len(anchors):
        ai = np.searchsorted(anchors, hi, side="right") - 1
        a = np.where(ai >= 0, anchors[np.maximum(ai, 0)], -1)
        g_s = np.where(a >= idx, a - idx, -1)
    else:
        g_s = np.full(n, -1, dtype=np.int64)
    out = np.empty(n, dtype=np.int64)
    out[order] = g_s
    return out


def _chain_scan_starts(
    pdf, key_cols, n_vars, s, L, f, ge, min_iter, past_last,
    within_us: int | None = None,
    branch_starts: list[int] | None = None,
):
    """Chain-kernel scan core shared by the one-row and all-rows
    emitters: key segmentation, body/prefix/suffix validity, greedy
    iteration counts, and AFTER MATCH start selection — all vectorized
    over one partition. ``within_us`` (round 8) caps each start's
    iteration count so the match span r .. r+s+kL+f-1 satisfies
    ``ts[last] - ts[r] < within`` (the NFA prunes a partial the moment
    a row at ``start + within`` arrives, so a completion at exactly
    the deadline does NOT match — :func:`_segment_deadline_limit`).

    ``branch_starts`` (round 8 — EQUAL-width multi-branch groups,
    ``(A B | C D)+``): spec positions of each branch's first variable.
    A chunk is valid when ANY branch body matches it (chain extension
    is branch-independent), and ``branch_at`` records the LEFTMOST
    valid branch per chunk — exactly the NFA's held preference, whose
    per-position row-count key is maximized by choosing the lowest
    branch wherever possible (choices are per-chunk independent).

    Returns ``(starts, k, seg_id, chunk_grp, branch_at)`` — the last
    two are None without ``branch_starts`` — or None when the
    partition holds no match."""
    import numpy as np

    from flink_cep_examples_spark.operators.cep_batch import (
        _PRED_PREFIX,
        _TS_COL,
    )

    n = len(pdf)
    # --- key segments (contiguous after the JVM sort) ---
    newkey = key_starts(pdf, key_cols)
    seg_id = np.cumsum(newkey, dtype=np.int64) - 1
    seg_start_rows = np.flatnonzero(newkey)
    pos_in_seg = np.arange(n, dtype=np.int64) - seg_start_rows[seg_id]
    seg_len = np.diff(np.append(seg_start_rows, n))
    rows_left = seg_len[seg_id] - pos_in_seg  # incl. current row

    p = [
        pdf[f"{_PRED_PREFIX}{i}"].to_numpy(dtype=bool)
        for i in range(n_vars)
    ]
    branch_at = None
    if branch_starts is not None:
        # per-branch chunk validity; OR for the chain, leftmost for
        # the per-chunk branch assignment
        body_ok = np.zeros(n, dtype=bool)
        branch_at = np.full(n, -1, dtype=np.int8)
        for b in reversed(range(len(branch_starts))):
            bs = branch_starts[b]
            ok_b = p[bs].copy()
            for j in range(1, L):
                ok_b[: n - j] &= p[bs + j][j:]
                ok_b[n - j :] = False
            body_ok |= ok_b
            branch_at[ok_b] = b  # reversed loop: lowest b wins
    else:
        # body chunk validity at its first row, masked at segment edges
        body_ok = p[s].copy()
        for j in range(1, L):
            body_ok[: n - j] &= p[s + j][j:]
            body_ok[n - j :] = False
    body_ok &= rows_left >= L
    if branch_at is not None:
        branch_at[~body_ok] = -1  # segment-edge chunks are not chunks
    # WITHIN deadline → per-start iteration cap, indexed by the BODY
    # start row j = r + s: last match row is j + kL - 1 (no suffix) or
    # the anchor's last suffix row j + kL + f - 1, both < limit[r]
    if within_us is not None:
        ts_us = pdf[_TS_COL].to_numpy(dtype=np.int64)
        limit = _segment_deadline_limit(ts_us, seg_id, within_us)
        k_cap = np.full(n, -1, dtype=np.int64)
        if s:
            k_cap[s:] = (limit[: n - s] - f - np.arange(s, n)) // L
        else:
            k_cap = (limit - f - np.arange(n)) // L
    else:
        k_cap = None
    if f:
        # suffix validity at its first row, masked at segment edges
        suffix_ok = p[ge + 1].copy()
        for j in range(1, f):
            suffix_ok[: n - j] &= p[ge + 1 + j][j:]
            suffix_ok[n - j :] = False
        suffix_ok &= rows_left >= f
        g_at = _strided_chain_suffix(
            body_ok, suffix_ok, seg_id, pos_in_seg, L, k_cap=k_cap
        )
    else:
        g_at = _strided_chain(body_ok, seg_id, pos_in_seg, L)
        if k_cap is not None:
            g_at = np.minimum(g_at, np.clip(k_cap, 0, None))
    # prefix validity at the start row (same-segment by rows_left)
    if s:
        prefix_ok = p[0].copy()
        for i in range(1, s):
            prefix_ok[: n - i] &= p[i][i:]
            prefix_ok[n - i :] = False
    else:
        prefix_ok = np.ones(n, dtype=bool)
    k_at = np.full(n, -1, dtype=np.int64)
    k_at[: n - s] = g_at[s:] if s else g_at
    lo = max(min_iter, 0 if f else 1)  # f=0: chain counts, no -1
    valid = (
        prefix_ok
        & (k_at >= lo)
        & (rows_left >= s + lo * L + f)
        & (rows_left >= s + 1)  # row r+s (k_at's source) in-segment
    )
    starts = np.flatnonzero(valid)
    if past_last and len(starts):
        # SKIP PAST LAST start selection (round-8 vectorization,
        # VERDICT r7 item 7): ONE vectorized searchsorted maps every
        # candidate to the first candidate past its span (a match's
        # span stays inside its segment, so the greedy cursor is
        # partition-global), then a pointer chase visits only the
        # SELECTED matches — O(#matches) list hops instead of one
        # searchsorted call per match (measured 1.97 s → 0.48 s at
        # 8×10⁵ matches / 4×10⁶ rows; see SCALING.md).
        ends = starts + s + k_at[starts] * L + f  # end + 1 per candidate
        nxt = np.searchsorted(starts, ends).tolist()
        sel: list[int] = []
        i, m = 0, len(starts)
        while i < m:
            sel.append(i)
            i = nxt[i]
        starts = starts[np.asarray(sel, dtype=np.int64)]
    if not len(starts):
        return None
    chunk_grp = (
        seg_id * np.int64(L) + pos_in_seg % L
        if branch_starts is not None
        else None
    )
    return starts, k_at[starts], seg_id, chunk_grp, branch_at


def fast_loop_chain_all_rows_applicable(spec, df=None) -> bool:
    """ALL ROWS PER MATCH variant of :func:`fast_loop_chain_applicable`
    (round 7.2): same pattern shapes, per-row emission. ``{- var -}``
    exclusions are handled (a positional keep-mask). RUNNING measures
    (round 8) compile too for single-variable targets — per-row counts
    are offset arithmetic, sums are one segmented cumsum over the
    expanded rows. Round 12: RUNNING MIN/MAX compile as segmented
    extrema (per-match cummax/cummin) when the source column is
    integral (:data:`_INTEGRAL`; pass ``df`` so the dtype is
    checkable). RUNNING over SUBSET unions stays on the NFA tier."""
    import dataclasses

    if not isinstance(spec, PatternSpec):
        return False
    if spec.rows_per_match != "all":
        return False
    subset_names = {name for name, _ in spec.subsets}

    def _numeric_src(m) -> bool:
        if df is None:
            return False  # dtype unknowable: NFA tier
        try:
            return isinstance(df.schema[m.src].dataType, _INTEGRAL)
        except KeyError:
            return False

    for m in spec.measures:
        if not m.running:
            continue
        if m.fn in ("classifier", "match_number"):
            continue
        if m.fn == "count":
            continue  # rows-only: offsets (single var) / segmented
            # cumsum of the membership mask (SUBSET union, round 12)
        if m.fn in ("first", "last"):
            continue  # single var: offset arithmetic; SUBSET union:
            # segmented index-gather (round 12) — dtype-free, and a
            # member row whose value IS NULL correctly overwrites
            # the running last (an ffill of values could not)
        if m.fn == "count_col":
            continue  # non-null counts: dtype-free segmented cumsum
        if m.fn in ("sum", "avg", "min", "max"):
            # the float64 segmented-cumsum/extrema path (round 12
            # extends it to SUBSET unions): require an integral
            # source — decimal/object aggregation keeps the NFA
            # tier's exact reductions (previously a decimal RUNNING
            # SUM would have been silently folded in float64)
            if not _numeric_src(m):
                return False
            continue
        return False  # unknown running fn → NFA tier
    if getattr(spec, "loop_branches", ()):
        # validate() rejects ALL ROWS with multi-branch groups anyway;
        # defensive — this emitter's positional classifier assumes one
        # fixed iteration body
        return False
    # shape + FINAL-measure compilability via the one-row check; the
    # RUNNING measures were vetted above (the one-row kernel's own
    # running reject must not veto them here)
    one = dataclasses.replace(
        spec,
        rows_per_match="one",
        measures=tuple(m for m in spec.measures if not m.running),
    )
    if any(m.fn in AGG_FNS for m in one.measures):
        # FINAL aggregates compile on the ONE ROW kernel (round 11)
        # but this all-rows emitter's gathers don't — NFA tier
        return False
    return fast_loop_chain_applicable(one)


def match_pattern_fast_loop_chain_all_rows(
    df: DataFrame, spec: PatternSpec
) -> DataFrame:
    """ALL ROWS PER MATCH on the chain kernel (round 7.2): the same
    scan core (:func:`_chain_scan_starts`) finds (start, iterations)
    per match; per-row emission is then pure row arithmetic — match m
    with k iterations occupies rows r .. r+s+kL+f-1 and offset →
    variable is positionally forced (off < s: prefix var; body:
    s + (off−s) mod L; else suffix) — so classifier, the ``{- var -}``
    exclusion keep-mask, and the output rows assemble from ONE
    np.repeat + arange, no per-match Python. Measures are FINAL
    (whole-match values repeated on each row, matching the NFA tier;
    RUNNING rejects in the applicability check). Output contract:
    operators/cep_batch.py::all_rows_output_schema — row ORDER differs
    from the NFA tier's variable-major emission; the row SET and
    values are differential-tested equal
    (tests/test_fast_loop_chain.py)."""
    import numpy as np
    import pandas as pd

    from flink_cep_examples_spark.operators.cep_batch import (
        _needs_src,
        _null_safe_agg_cast,
        _prepare,
        _TS_COL,
        all_rows_output_schema,
    )

    spec.validate()
    if not fast_loop_chain_all_rows_applicable(spec, df):
        raise ValueError(
            "pattern shape not compilable by the all-rows chain kernel"
        )

    gs, ge = spec.loop_groups[0]
    s = gs
    L = ge - gs + 1
    f = len(spec.variables) - ge - 1
    n_vars = len(spec.variables)
    within_us = (
        int(spec.within.total_seconds() * 1_000_000)
        if spec.within is not None
        else None
    )
    data_cols = list(df.columns)
    prepared = _prepare(df, spec, all_rows=True)
    out_schema = all_rows_output_schema(df, spec)
    key_cols = list(spec.key_cols)
    tiebreak = spec.tiebreak_col
    measure_list = list(spec.measures)
    subset_map = dict(spec.subsets)
    var_pos = {v.name: i for i, v in enumerate(spec.variables)}
    var_names = np.array([v.name for v in spec.variables], dtype=object)
    excluded = np.array([v.excluded for v in spec.variables], dtype=bool)
    last_var_name = spec.variables[-1].name
    past_last = spec.after_match == SKIP_PAST_LAST_EVENT
    out_names = [fld.name for fld in out_schema.fields]

    sorted_p = sort_by_key(prepared, key_cols, [_TS_COL, tiebreak])

    def scan_partition(batches):
        chunks = [c for c in batches if len(c)]
        if not chunks:
            return
        pdf = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1
            else chunks[0]
        )
        scanned = _chain_scan_starts(
            pdf, key_cols, n_vars, s, L, f, ge, 1, past_last,
            within_us=within_us,
        )
        if scanned is None:
            return
        starts, k, seg_id, _grp, _bat = scanned
        nm = len(starts)
        src_arrays = {
            m.src: pdf[m.src].to_numpy()
            for m in measure_list
            if _needs_src(m)
        }

        def var_rows(v: str):
            i = var_pos[v]
            if i < s:
                r = starts + i
                return r, r, np.ones(nm, dtype=np.int64)
            if i > ge:
                r = starts + s + k * L + (i - ge - 1)
                return r, r, np.ones(nm, dtype=np.int64)
            first = starts + i
            last = starts + s + (k - 1) * L + (i - s)
            return first, last, k

        # 0-based per-segment match_seq (the NFA tier's contract)
        segs = seg_id[starts]
        new_s = np.empty(nm, dtype=bool)
        new_s[0] = True
        new_s[1:] = segs[1:] != segs[:-1]
        first_idx = np.maximum.accumulate(
            np.where(new_s, np.arange(nm), 0)
        )
        mseq = np.arange(nm) - first_idx
        mvals: dict[str, object] = {}
        running = [
            m
            for m in measure_list
            if m.running and m.fn != "match_number"
        ]
        run_names = {m.name for m in running}
        for m in measure_list:
            if m.name in run_names:
                continue  # per-row series, computed after expansion
            if m.fn == "match_number":
                mvals[m.name] = mseq + 1
                continue
            if m.fn == "classifier":
                mvals[m.name] = np.repeat(last_var_name, nm)
                continue
            comps = subset_map.get(m.var, (m.var,))
            firsts, lasts, counts = zip(*(var_rows(c) for c in comps))
            if m.fn == "count":
                total = counts[0].copy()
                for cc in counts[1:]:
                    total = total + cc
                mvals[m.name] = total
            elif m.fn == "first":
                fi = firsts[0]
                for f2 in firsts[1:]:
                    fi = np.minimum(fi, f2)
                mvals[m.name] = src_arrays[m.src][fi]
            else:  # last
                la = lasts[0]
                for l2 in lasts[1:]:
                    la = np.maximum(la, l2)
                mvals[m.name] = src_arrays[m.src][la]

        # --- per-row expansion: one repeat + arange, offset→variable ---
        lens = s + k * L + f
        total_rows = int(lens.sum())
        rep = np.repeat(np.arange(nm), lens)
        cum = np.repeat(np.cumsum(lens) - lens, lens)
        off = np.arange(total_rows, dtype=np.int64) - cum
        k_rep = k[rep]
        in_loop = (off >= s) & (off < s + k_rep * L)
        var_idx = np.where(
            off < s,
            off,
            np.where(
                in_loop,
                s + (off - s) % L,
                ge + 1 + (off - s - k_rep * L),
            ),
        )
        # RUNNING series (round 8) on the PRE-keep expansion: excluded
        # rows still contribute to measures (SQL:2016), only their
        # output rows are dropped. Counts are offset arithmetic; sums
        # are ONE segmented cumsum over the expanded rows (prefix
        # minus the match's base prefix, ``cum`` being each row's
        # match-start index).
        run_cols: dict[str, tuple] = {}  # name -> (values, none_mask)
        if running:
            row_idx_full = starts[rep] + off
            for m in running:
                if m.fn == "classifier":
                    run_cols[m.name] = (var_names[var_idx], None)
                    continue
                comps = subset_map.get(m.var)
                if comps is not None:
                    # SUBSET union (round 12): membership mask over
                    # the union's positions, then the same segmented
                    # cumsum / extrema machinery as single vars —
                    # position offsets don't exist for a union, so
                    # COUNT rides the cumsum too
                    posu = np.array(
                        [var_pos[c] for c in comps], dtype=np.int64
                    )
                    ismem = np.isin(var_idx, posu)
                    if m.fn == "count":
                        nvm = np.cumsum(ismem.astype(np.int64))
                        N0m = np.concatenate(([0], nvm))
                        run_cols[m.name] = (nvm - N0m[cum], None)
                        continue
                    if m.fn in ("first", "last"):
                        # running index of the union's first/last row
                        # at-or-before each output row, then a gather
                        # from the source array — the row's value
                        # null or not (SQL:2016), dtype-free
                        ar = np.arange(len(ismem), dtype=np.float64)
                        if m.fn == "last":
                            idx = pd.Series(
                                np.where(ismem, ar, np.nan)
                            ).groupby(cum).cummax()
                        else:
                            idx = pd.Series(
                                np.where(ismem, ar, np.nan)
                            ).groupby(cum).cummin()
                        idx = idx.groupby(cum).ffill().to_numpy()
                        has = ~np.isnan(idx)
                        gat = src_arrays[m.src][
                            row_idx_full[
                                np.where(has, idx, 0).astype(np.int64)
                            ]
                        ]
                        run_cols[m.name] = (gat, ~has)
                        continue
                    vraw = src_arrays[m.src][row_idx_full]
                    notna = ~pd.isna(vraw)
                    hit = ismem & notna
                    nv = np.cumsum(hit.astype(np.int64))
                    N0 = np.concatenate(([0], nv))
                    run_nv = nv - N0[cum]
                    if m.fn == "count_col":
                        run_cols[m.name] = (run_nv, None)
                    elif m.fn in ("min", "max"):
                        ser = pd.Series(
                            np.where(hit, vraw, np.nan),
                            dtype="float64",
                        )
                        grp = ser.groupby(cum)
                        run = (
                            grp.cummax()
                            if m.fn == "max"
                            else grp.cummin()
                        )
                        run = run.groupby(cum).ffill()
                        run_cols[m.name] = (
                            run.to_numpy(),
                            run_nv == 0,
                        )
                    else:  # sum / avg
                        contrib = np.where(hit, vraw, 0).astype(
                            np.float64
                        )
                        csum = np.cumsum(contrib)
                        S = np.concatenate(([0.0], csum))
                        run_sum = csum - S[cum]
                        if m.fn == "sum":
                            run_cols[m.name] = (run_sum, run_nv == 0)
                        else:
                            run_cols[m.name] = (
                                run_sum / np.maximum(run_nv, 1),
                                run_nv == 0,
                            )
                    continue
                i = var_pos[m.var]
                if i < s:
                    cnt_o = (off >= i).astype(np.int64)
                    last_row = starts[rep] + i
                    first_row = last_row
                elif i > ge:
                    so = s + k_rep * L + (i - ge - 1)
                    cnt_o = (off >= so).astype(np.int64)
                    last_row = starts[rep] + so
                    first_row = last_row
                else:
                    j = i - s
                    cnt_o = np.clip(
                        (off - s - j) // L + 1, 0, k_rep
                    )
                    first_row = starts[rep] + s + j
                    last_row = (
                        first_row + (np.maximum(cnt_o, 1) - 1) * L
                    )
                if m.fn == "count":
                    run_cols[m.name] = (cnt_o, None)
                elif m.fn == "first":
                    run_cols[m.name] = (
                        src_arrays[m.src][first_row],
                        cnt_o == 0,
                    )
                elif m.fn == "last":
                    run_cols[m.name] = (
                        src_arrays[m.src][last_row],
                        cnt_o == 0,
                    )
                elif m.fn in ("min", "max"):
                    # round 12: segmented extrema — per-match cummax/
                    # cummin over the variable's rows (non-hit rows are
                    # NaN, which pandas' C cummax skips; `cum` is each
                    # row's match-base index, so groupby(cum) is the
                    # match partition). Applicability pinned the source
                    # to a plain numeric dtype, so float64 is exact.
                    isvar = var_idx == i
                    vraw = src_arrays[m.src][row_idx_full]
                    notna = ~pd.isna(vraw)
                    hit = isvar & notna
                    ser = pd.Series(
                        np.where(hit, vraw, np.nan), dtype="float64"
                    )
                    grp = ser.groupby(cum)
                    run = (
                        grp.cummax() if m.fn == "max" else grp.cummin()
                    )
                    # cummax leaves NaN AT non-hit rows (it skips them
                    # for the running value but doesn't emit it there)
                    # — forward-fill within the match carries the
                    # extremum onto the other variables' rows
                    run = run.groupby(cum).ffill()
                    nv = np.cumsum(hit.astype(np.int64))
                    N0 = np.concatenate(([0], nv))
                    run_nv = nv - N0[cum]
                    run_cols[m.name] = (run.to_numpy(), run_nv == 0)
                else:  # sum / avg / count_col: segmented cumsum
                    isvar = var_idx == i
                    vraw = src_arrays[m.src][row_idx_full]
                    notna = ~pd.isna(vraw)
                    hit = isvar & notna
                    contrib = np.where(
                        hit, vraw, 0
                    ).astype(np.float64)
                    csum = np.cumsum(contrib)
                    nv = np.cumsum(hit.astype(np.int64))
                    S = np.concatenate(([0.0], csum))
                    N0 = np.concatenate(([0], nv))
                    run_sum = csum - S[cum]
                    run_nv = nv - N0[cum]
                    if m.fn == "count_col":
                        run_cols[m.name] = (run_nv, None)
                    elif m.fn == "sum":
                        run_cols[m.name] = (run_sum, run_nv == 0)
                    else:  # avg
                        run_cols[m.name] = (
                            run_sum / np.maximum(run_nv, 1),
                            run_nv == 0,
                        )
        keep = ~excluded[var_idx]
        row_idx = (starts[rep] + off)[keep]
        rep_k = rep[keep]
        var_k = var_idx[keep]
        out_cols: dict[str, object] = {}
        for c in data_cols:
            out_cols[c] = pdf[c].to_numpy()[row_idx]
        out_cols["classifier"] = var_names[var_k]
        out_cols["match_seq"] = mseq[rep_k]
        for m in measure_list:
            if m.name in run_cols:
                vals, none_mask = run_cols[m.name]
                if none_mask is None:
                    out_cols[m.name] = np.asarray(vals)[keep]
                else:
                    ser = pd.Series(np.asarray(vals)[keep])
                    nm_k = np.asarray(none_mask)[keep]
                    ser[nm_k] = None
                    out_cols[m.name] = ser.to_numpy()
            else:
                out_cols[m.name] = np.asarray(mvals[m.name])[rep_k]
        out = pd.DataFrame(out_cols, columns=out_names)
        _null_safe_agg_cast(out, measure_list, out_schema)
        yield out

    return sorted_p.mapInPandas(scan_partition, out_schema)


def fast_group_absence_applicable(spec) -> bool:
    """True for the vectorizable timeout-channel loop-group shape
    (round 8): ``PATTERN ((X1 .. XL)+ S) WITHIN ...`` with
    ``emit_timeouts`` under AFTER MATCH SKIP TO NEXT ROW / NO SKIP —
    the reference's absence side output
    (FlinkCEPAbsenceOfEventExample.scala:93-103) applied to a grouped
    pattern (``cep_group_absence``).

    Start-independence (TO NEXT / NO SKIP under longest derivation)
    makes every X1 row's run a CLOSED FORM: it consumes the maximal
    stride-L chunk chain plus a dangling partial chunk, truncated at
    the start's deadline; the row after the consumed prefix decides
    match (suffix pred, chunk-aligned, within deadline), timeout (at
    or past the deadline, or end of segment), or silent death.
    SKIP PAST LAST needs the advance_time walk's span-discard
    coordination and stays on the NFA tier."""
    if not isinstance(spec, PatternSpec) or spec.derivation != "longest":
        return False
    if not spec.emit_timeouts or spec.within is None:
        return False
    if spec.permute or spec.rows_per_match != "one":
        return False
    if spec.after_match not in (SKIP_TO_NEXT, NO_SKIP):
        return False
    if len(spec.loop_groups) != 1 or getattr(spec, "loop_branches", ()):
        return False
    gs, ge = spec.loop_groups[0]
    if gs != 0 or ge != len(spec.variables) - 2:
        return False  # shape is exactly (group)+ plus ONE suffix var
    for i, v in enumerate(spec.variables):
        if v.negated or v.until is not None or v.quantifier != ONCE:
            return False
        if i > 0 and v.contiguity != STRICT:
            return False
        if not v.greedy:
            return False
    names = {v.name for v in spec.variables}
    subset_map = dict(spec.subsets)
    for m in spec.measures:
        if m.running or m.fn not in ("first", "last", "count"):
            return False
        comps = subset_map.get(m.var, (m.var,))
        if not all(c in names for c in comps):
            return False
    return True


def match_pattern_fast_group_absence(
    df: DataFrame, spec: PatternSpec
) -> DataFrame:
    """Vectorized match+timeout emission for the group-absence shape
    (see :func:`fast_group_absence_applicable`): one numpy pass per
    partition, no per-key Python. Derivation (from the NFA semantics,
    operators/nfa.py advance_time longest walk — differential-tested
    in tests/test_group_absence.py):

    - run extent from start r: ``k`` full body chunks
      (:func:`_strided_chain`) plus a dangling PARTIAL chunk (longest
      strict prefix of the body predicates at r+kL) — rows r..e;
    - deadline: rows at/after ``limit[r]``
      (:func:`_segment_deadline_limit`, strict ``<``) are never
      consumed — a run alive there is a timed-out partial;
    - the row after the consumed prefix decides: TIMEOUT when it sits
      at/past the deadline or past the segment end (end-of-input
      expiry); MATCH when it arrives inside the deadline, satisfies
      the suffix predicate, and the prefix is whole chunks (k ≥ 1,
      no dangling partial); anything else is a silent contiguity
      death (Flink's timeout handler never sees failed runs);
    - timeout measures cover the CONSUMED rows r..min(e, limit[r]-1).
    """
    import numpy as np
    import pandas as pd

    from flink_cep_examples_spark.operators.cep_batch import (
        _needs_src,
        _null_safe_agg_cast,
        _prepare,
        _PRED_PREFIX,
        _TS_COL,
        output_schema,
    )

    spec.validate()
    if not fast_group_absence_applicable(spec):
        raise ValueError("pattern shape not compilable (group absence)")

    gs, ge = spec.loop_groups[0]
    L = ge - gs + 1
    n_vars = len(spec.variables)
    within_us = int(spec.within.total_seconds() * 1_000_000)
    prepared = _prepare(df, spec)
    out_schema = output_schema(df, spec)
    key_cols = list(spec.key_cols)
    tiebreak = spec.tiebreak_col
    measure_list = list(spec.measures)
    subset_map = dict(spec.subsets)
    var_pos = {v.name: i for i, v in enumerate(spec.variables)}
    out_names = [f.name for f in out_schema.fields]

    sorted_p = sort_by_key(prepared, key_cols, [_TS_COL, tiebreak])

    def scan_partition(batches):
        chunks = [c for c in batches if len(c)]
        if not chunks:
            return
        pdf = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1
            else chunks[0]
        )
        n = len(pdf)
        newkey = key_starts(pdf, key_cols)
        seg_id = np.cumsum(newkey, dtype=np.int64) - 1
        seg_start_rows = np.flatnonzero(newkey)
        pos_in_seg = np.arange(n, dtype=np.int64) - seg_start_rows[seg_id]
        seg_len = np.diff(np.append(seg_start_rows, n))
        rows_left = seg_len[seg_id] - pos_in_seg

        p = [
            pdf[f"{_PRED_PREFIX}{i}"].to_numpy(dtype=bool)
            for i in range(n_vars)
        ]
        ts_us = pdf[_TS_COL].to_numpy(dtype=np.int64)

        # body-prefix validity pok_m (m = 1..L) and the dangling
        # partial length (longest strict prefix, 0..L-1)
        pok = p[0].copy() & (rows_left >= 1)
        partial = np.where(pok, 1, 0).astype(np.int64)
        body_ok = pok if L == 1 else None
        for m_len in range(2, L + 1):
            j = m_len - 1
            nxt = pok.copy()
            nxt[: n - j] &= p[j][j:]
            nxt[n - j :] = False
            nxt &= rows_left >= m_len
            pok = nxt
            if m_len < L:
                partial = np.where(pok, m_len, partial)
            else:
                body_ok = pok
        k_full = _strided_chain(body_ok, seg_id, pos_in_seg, L)
        limit = _segment_deadline_limit(ts_us, seg_id, within_us)

        starts = np.flatnonzero(p[0] & (partial >= 1))
        if not len(starts):
            return
        k = k_full[starts]
        t_part = starts + k * L
        seg_end = starts + rows_left[starts] - 1
        tp_ok = (t_part < n) & (t_part <= seg_end)
        part_len = np.where(
            tp_ok, partial[np.minimum(t_part, n - 1)], 0
        )
        # a dangling partial equal to a full chunk cannot happen
        # (chain is maximal), but the partial at t_part may itself be
        # chunk-START of an invalid chunk — partial[] already encodes
        # the longest strict prefix, which is what the run consumes
        e = starts + k * L + part_len - 1
        dl = limit[starts]
        kill = e + 1

        # MATCH = the LAST chunk-aligned suffix row inside the chain
        # and the deadline (longest derivation; with OVERLAPPING
        # predicates — a row satisfying both the body-start and the
        # suffix — a mid-chain exit branch completes and is HELD, so
        # a match may end strictly before the maximal chain; the
        # match channel then beats the timeout channel even if the
        # longer run later expires, exactly advance_time's walk).
        # Candidates share the start's (segment, phase) class — one
        # batched searchsorted over the class-keyed suffix positions.
        grp = seg_id * np.int64(L) + pos_in_seg % L
        zpos = np.flatnonzero(p[ge + 1])
        zenc = np.sort(grp[zpos] * np.int64(n) + zpos)
        gkey = grp[starts] * np.int64(n)
        lo_key = gkey + starts + L  # m >= 1 chunks before the suffix
        hi_key = gkey + np.minimum(starts + k * L, dl - 1)
        if len(zenc):
            iR = np.searchsorted(zenc, hi_key, "right") - 1
            cval = zenc[np.maximum(iR, 0)]
            has_c = (iR >= 0) & (cval >= lo_key)
            c = np.where(has_c, cval - gkey, -1)
        else:
            has_c = np.zeros(len(starts), dtype=bool)
            c = np.full(len(starts), -1, dtype=np.int64)
        is_match = has_c
        m_iters = np.where(has_c, (c - starts) // L, 0)
        is_timeout = (~has_c) & ((kill >= dl) | (kill > seg_end))
        u = np.minimum(e, dl - 1)  # consumed end for timeouts

        src_arrays = {
            m.src: pdf[m.src].to_numpy()
            for m in measure_list
            if _needs_src(m)
        }
        key_arrays = {kc: pdf[kc].to_numpy() for kc in key_cols}

        def emit(sel: np.ndarray, matched: bool, tag: str):
            """One output frame for the selected starts."""
            r = starts[sel]
            kk = m_iters[sel] if matched else k[sel]
            uu = u[sel]
            kl = c[sel] if matched else kill[sel]
            cols: dict[str, object] = {
                kc: key_arrays[kc][r] for kc in key_cols
            }

            def var_rows(v: str):
                i = var_pos[v]
                if i > ge:  # suffix var
                    if matched:
                        return kl, kl, np.ones(len(r), dtype=np.int64)
                    z = np.zeros(len(r), dtype=np.int64)
                    return (
                        np.full(len(r), n, dtype=np.int64),
                        np.full(len(r), -1, dtype=np.int64),
                        z,
                    )
                j = i  # gs == 0
                if matched:
                    first = r + j
                    last = r + (kk - 1) * L + j
                    return first, last, kk.copy()
                cnt = np.where(uu - r >= j, (uu - r - j) // L + 1, 0)
                first = r + j
                last = r + j + (cnt - 1) * L
                return first, last, cnt

            for m in measure_list:
                comps = subset_map.get(m.var, (m.var,))
                firsts, lasts, counts = zip(
                    *(var_rows(c) for c in comps)
                )
                if m.fn == "count":
                    total = counts[0].copy()
                    for cc in counts[1:]:
                        total = total + cc
                    cols[m.name] = total
                elif m.fn == "first":
                    fi = np.where(counts[0] > 0, firsts[0], n)
                    for f2, c2 in zip(firsts[1:], counts[1:]):
                        fi = np.minimum(fi, np.where(c2 > 0, f2, n))
                    has = fi < n
                    ser = pd.Series(
                        src_arrays[m.src][np.where(has, fi, 0)]
                    )
                    ser[~has] = None
                    cols[m.name] = ser.to_numpy()
                else:  # last
                    la = np.where(counts[0] > 0, lasts[0], -1)
                    for l2, c2 in zip(lasts[1:], counts[1:]):
                        la = np.maximum(la, np.where(c2 > 0, l2, -1))
                    has = la >= 0
                    ser = pd.Series(
                        src_arrays[m.src][np.where(has, la, 0)]
                    )
                    ser[~has] = None
                    cols[m.name] = ser.to_numpy()
            cols["tag"] = np.repeat(tag, len(r))
            return pd.DataFrame(cols, columns=out_names)

        frames = []
        if is_match.any():
            frames.append(emit(is_match, True, MATCH_TAG))
        if is_timeout.any():
            frames.append(emit(is_timeout, False, TIMEOUT_TAG))
        if not frames:
            return
        out = (
            pd.concat(frames, ignore_index=True)
            if len(frames) > 1
            else frames[0]
        )
        _null_safe_agg_cast(out, measure_list, out_schema)
        yield out

    return sorted_p.mapInPandas(scan_partition, out_schema)


def _chain_vars_measures_ok(
    spec, allow_agg: bool = False, allow_running: bool = False
) -> bool:
    """Shared variable/measure admissibility for the nested chain /
    islands kernels: plain greedy ONCE variables under strict
    contiguity, measures limited to first/last/count (+ niladics) over
    known vars/subsets — everything the closed forms can reconstruct
    from unit geometry. ``allow_agg`` (round 10, the depth-2 nested
    kernel only): FINAL SUM/AVG/MIN/MAX compute per emission over the
    variable's classified rows with the SAME pandas reductions the NFA
    tier uses. ``allow_running`` (round 12, the islands ALL-ROWS
    kernel only): RUNNING count/count_col/sum/avg/min/max/first/last
    over classified rows — segmented series per island; the caller is
    responsible for the numeric-dtype gate on the float64 fns."""
    for i, v in enumerate(spec.variables):
        if v.negated or v.until is not None or v.quantifier != ONCE:
            return False
        if i > 0 and v.contiguity != STRICT:
            return False
        if not v.greedy:
            return False
    names = {v.name for v in spec.variables}
    subset_map = dict(spec.subsets)
    for m in spec.measures:
        if m.running:
            if not allow_running:
                return False
            if m.fn in NILADIC_FNS:
                continue  # RUNNING CLASSIFIER = the row's own var
            if m.fn not in (
                "count", "count_col", "sum", "avg", "min", "max",
                "first", "last",
            ):
                return False
            comps = subset_map.get(m.var, (m.var,))
            if not all(c in names for c in comps):
                return False
            continue
        if m.fn in NILADIC_FNS:
            continue  # per-segment MATCH_NUMBER / last-var CLASSIFIER
        if m.fn not in ("first", "last", "count") and not (
            allow_agg and m.fn in AGG_FNS
        ):
            return False
        comps = subset_map.get(m.var, (m.var,))
        if not all(c in names for c in comps):
            return False
    return True


def _branch_islands(pdf, key_cols, geom, branches, p, var_names):
    """Break-mask island decomposition shared by the branch-group
    kernels (one-row + all-rows): under DISJOINT predicates a branch
    row is VALID iff its offset-(j-1) predecessor and offset-(j+1)
    successor are present, in-segment, and themselves valid — a
    FIXPOINT, since invalidity propagates through a chunk's interior
    (one row per pass, chunk diameter <= max branch width; constraints
    never cross chunks, so the fixpoint is exact). Each maximal run of
    valid rows tiles uniquely as ``(B1|B2|...)+`` and is one greedy
    SKIP-PAST-LAST match.

    Returns ``(vidx, iid, n_isl, first_row, last_row, var_first,
    var_last, var_count, mn)`` — island id per valid row, per-island
    row bounds, per-VAR-NAME first/last row (-1/sentinel when absent)
    and row counts, and the 1-based per-key-segment island ordinal —
    or None when the partition holds no island."""
    import numpy as np

    n = len(pdf)
    newkey = key_starts(pdf, key_cols)
    seg_id = np.cumsum(newkey, dtype=np.int64) - 1
    same_seg = seg_id[1:] == seg_id[:-1]

    ok_any = np.zeros(n, dtype=bool)
    for i, _pv, _nx in geom:
        ok_any |= p[i]
    valid = ok_any.copy()
    max_w = max(e - s + 1 for s, e in branches)
    for _ in range(max_w + 1):
        bad = np.zeros(n, dtype=bool)
        for i, prev_i, next_i in geom:
            pi = p[i]
            if prev_i >= 0:
                prev_ok = np.zeros(n, dtype=bool)
                prev_ok[1:] = (p[prev_i][:-1] & valid[:-1]) & same_seg
                bad |= pi & ~prev_ok
            if next_i >= 0:
                nxt_ok = np.zeros(n, dtype=bool)
                nxt_ok[:-1] = (p[next_i][1:] & valid[1:]) & same_seg
                bad |= pi & ~nxt_ok
        new_valid = valid & ~bad
        if bool((new_valid == valid).all()):
            break
        valid = new_valid
    vidx = np.flatnonzero(valid)
    if not len(vidx):
        return None
    start = valid.copy()
    start[1:] &= ~(valid[:-1] & same_seg)
    iid = (np.cumsum(start) - 1)[vidx]  # island id per valid row
    n_isl = int(start.sum())
    big = np.iinfo(np.int64).max
    first_row = np.full(n_isl, big, dtype=np.int64)
    last_row = np.full(n_isl, -1, dtype=np.int64)
    np.minimum.at(first_row, iid, vidx)
    np.maximum.at(last_row, iid, vidx)
    var_first: dict[str, "np.ndarray"] = {}
    var_last: dict[str, "np.ndarray"] = {}
    var_count: dict[str, "np.ndarray"] = {}
    for i, _pv, _nx in geom:
        mask = p[i][vidx]
        vf = np.full(n_isl, big, dtype=np.int64)
        vl = np.full(n_isl, -1, dtype=np.int64)
        vc = np.zeros(n_isl, dtype=np.int64)
        if mask.any():
            np.minimum.at(vf, iid[mask], vidx[mask])
            np.maximum.at(vl, iid[mask], vidx[mask])
            np.add.at(vc, iid[mask], 1)
        name = var_names[i]
        var_first[name] = vf
        var_last[name] = vl
        var_count[name] = vc
    # MATCH_NUMBER: 1-based island ordinal within its key segment
    isl_seg = seg_id[first_row]
    new_blk = np.r_[True, isl_seg[1:] != isl_seg[:-1]]
    blk_first = np.maximum.accumulate(
        np.where(new_blk, np.arange(n_isl), 0)
    )
    mn = np.arange(n_isl) - blk_first + 1
    return (vidx, iid, n_isl, first_row, last_row,
            var_first, var_last, var_count, mn)


def fast_branch_all_rows_applicable(spec, df=None) -> bool:
    """ALL ROWS PER MATCH on the islands kernel — ANY branch widths
    (round 10): the round-7 all-rows chain kernel rejects
    loop_branches entirely, so this is THE compiled path for
    branch-group ALL ROWS (the NFA tier's per-match Python emission
    measured 3.3x at 10x). Same shape constraints as the one-row
    islands kernel except widths may be equal. Round 12: RUNNING
    measures compile too (segmented series per island over
    predicate-classified rows; the NFA classify path measured 6.4x
    at 10x) — SUM/AVG/MIN/MAX need an integral source
    (:data:`_INTEGRAL`), so pass ``df`` for the dtype check."""
    if not isinstance(spec, PatternSpec) or spec.derivation != "longest":
        return False
    if spec.rows_per_match != "all":
        return False
    if spec.permute or spec.emit_timeouts or spec.within is not None:
        return False
    if spec.after_match != SKIP_PAST_LAST_EVENT:
        return False
    branches = getattr(spec, "loop_branches", ())
    if len(branches) < 2 or len(spec.loop_groups) != 1:
        return False
    n = len(spec.variables)
    if spec.loop_groups[0] != (0, n - 1):
        return False  # group must span the whole pattern
    for m in spec.measures:
        if m.running and m.fn in ("sum", "avg", "min", "max"):
            if df is None:
                return False  # dtype unknowable: NFA tier
            try:
                dt = df.schema[m.src].dataType
            except KeyError:
                return False
            if not isinstance(dt, _INTEGRAL):
                return False
    return _chain_vars_measures_ok(spec, allow_running=True)


def match_pattern_fast_branch_all_rows(
    df: DataFrame, spec: PatternSpec
) -> DataFrame:
    """ALL ROWS PER MATCH via the break-mask islands decomposition
    (round 10; see :func:`fast_branch_all_rows_applicable`): the
    islands ARE the matches, every island row emits (minus ``{- -}``
    exclusions) with classifier = the row's own variable — assembled
    from ONE boolean-mask pass per variable, zero per-match Python.
    FINAL measures compute per island and broadcast to rows by island
    id. Rows whose predicates OVERLAP fall back to the per-segment NFA
    with the predicate-classified emission the NFA tier uses
    (identical output, differential-tested)."""
    import numpy as np
    import pandas as pd

    from flink_cep_examples_spark.operators.cep_batch import (
        _needs_src,
        _null_safe_agg_cast,
        _prepare,
        _PRED_PREFIX,
        _TS_COL,
        all_rows_output_schema,
    )

    spec.validate()
    if not fast_branch_all_rows_applicable(spec, df):
        raise ValueError(
            "pattern shape not compilable (branch all-rows islands)"
        )

    n_vars = len(spec.variables)
    branches = sorted(spec.loop_branches)
    geom = []
    for b_s, b_e in branches:
        for i in range(b_s, b_e + 1):
            geom.append(
                (i, i - 1 if i > b_s else -1, i + 1 if i < b_e else -1)
            )
    data_cols = list(df.columns)
    prepared = _prepare(df, spec, all_rows=True)
    out_schema = all_rows_output_schema(df, spec)
    key_cols = list(spec.key_cols)
    tiebreak = spec.tiebreak_col
    measure_list = list(spec.measures)
    subset_map = dict(spec.subsets)
    var_names = [v.name for v in spec.variables]
    excluded = [v.excluded for v in spec.variables]
    out_names = [fld.name for fld in out_schema.fields]
    nfa_scan = batch_scan(spec, out_schema)

    sorted_p = sort_by_key(prepared, key_cols, [_TS_COL, tiebreak])

    def scan_partition(batches):
        chunks = [c for c in batches if len(c)]
        if not chunks:
            return
        pdf = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1
            else chunks[0]
        )
        n = len(pdf)
        p = [
            pdf[f"{_PRED_PREFIX}{i}"].to_numpy(dtype=bool)
            for i in range(n_vars)
        ]
        src_arrays = {
            m.src: pdf[m.src].to_numpy()
            for m in measure_list
            if _needs_src(m)
        }
        data_arrays = {c: pdf[c].to_numpy() for c in data_cols}

        overlap = False
        for i in range(n_vars):
            for j in range(i + 1, n_vars):
                if (p[i] & p[j]).any():
                    overlap = True
                    break
            if overlap:
                break
        if overlap:
            out = nfa_scan(pdf, group_bounds(pdf, key_cols))
            if len(out):
                yield out
            return

        isl = _branch_islands(pdf, key_cols, geom, branches, p, var_names)
        if isl is None:
            return
        (vidx, iid, n_isl, first_row, last_row,
         var_first, var_last, var_count, mn) = isl
        big = np.iinfo(np.int64).max
        running_ms = [
            m
            for m in measure_list
            if m.running and m.fn != "match_number"
        ]
        # per-island FINAL measure values
        isl_vals: dict[str, np.ndarray] = {}
        for m in measure_list:
            if m.running and m.fn != "match_number":
                continue  # round 12: per-row series, computed below
            if m.fn == "match_number":
                isl_vals[m.name] = mn
                continue
            if m.fn == "classifier":
                cls = np.empty(n_isl, dtype=object)
                for i, _pv, _nx in geom:
                    hit = p[i][last_row]
                    cls[hit] = var_names[i]
                isl_vals[m.name] = cls
                continue
            comps = subset_map.get(m.var, (m.var,))
            if m.fn == "count":
                tot = np.zeros(n_isl, dtype=np.int64)
                for c in comps:
                    tot += var_count[c]
                isl_vals[m.name] = tot
                continue
            if m.fn == "first":
                idxs = np.full(n_isl, big, dtype=np.int64)
                for c in comps:
                    idxs = np.minimum(idxs, var_first[c])
                has = idxs != big
            else:  # last
                idxs = np.full(n_isl, -1, dtype=np.int64)
                for c in comps:
                    idxs = np.maximum(idxs, var_last[c])
                has = idxs >= 0
            src = src_arrays[m.src]
            vals = np.empty(n_isl, dtype=object)
            picked = src[np.where(has, idxs, 0)]
            for k in range(n_isl):
                vals[k] = picked[k] if has[k] else m.default
            isl_vals[m.name] = vals
        # row-level emission: every island row, classifier = its own
        # var, {- -} exclusions dropped
        rv = np.empty(len(vidx), dtype=object)
        keep = np.ones(len(vidx), dtype=bool)
        for i, _pv, _nx in geom:
            mask = p[i][vidx]
            rv[mask] = var_names[i]
            if excluded[i]:
                keep &= ~mask
        # RUNNING series (round 12): segmented per-island series over
        # predicate-classified rows, computed PRE-keep so excluded
        # rows still advance the state (SQL:2016) — the chain kernel's
        # cumsum/extrema/index-gather motifs keyed by island id
        run_cols: dict[str, tuple] = {}
        for m in running_ms:
            if m.fn == "classifier":
                run_cols[m.name] = (rv, None)  # the row's own var
                continue
            comps = set(subset_map.get(m.var, (m.var,)))
            ismem = np.zeros(len(vidx), dtype=bool)
            for i, _pv, _nx in geom:
                if var_names[i] in comps:
                    ismem |= p[i][vidx]
            if m.fn == "count":
                run = (
                    pd.Series(ismem.astype(np.int64))
                    .groupby(iid)
                    .cumsum()
                    .to_numpy()
                )
                run_cols[m.name] = (run, None)
                continue
            vraw = src_arrays[m.src][vidx]
            if m.fn in ("first", "last"):
                ar = np.arange(len(ismem), dtype=np.float64)
                ser = pd.Series(np.where(ismem, ar, np.nan))
                g = ser.groupby(iid)
                idxp = (
                    (g.cummax() if m.fn == "last" else g.cummin())
                    .groupby(iid)
                    .ffill()
                    .to_numpy()
                )
                has = ~np.isnan(idxp)
                gat = vraw[np.where(has, idxp, 0).astype(np.int64)]
                run_cols[m.name] = (gat, ~has)
                continue
            notna = ~pd.isna(vraw)
            hit = ismem & notna
            nvr = (
                pd.Series(hit.astype(np.int64))
                .groupby(iid)
                .cumsum()
                .to_numpy()
            )
            if m.fn == "count_col":
                run_cols[m.name] = (nvr, None)
            elif m.fn in ("min", "max"):
                ser = pd.Series(
                    np.where(hit, vraw, np.nan), dtype="float64"
                )
                g = ser.groupby(iid)
                run = (
                    (g.cummax() if m.fn == "max" else g.cummin())
                    .groupby(iid)
                    .ffill()
                    .to_numpy()
                )
                run_cols[m.name] = (run, nvr == 0)
            else:  # sum / avg
                contrib = np.where(hit, vraw, 0).astype(np.float64)
                rsum = (
                    pd.Series(contrib).groupby(iid).cumsum().to_numpy()
                )
                if m.fn == "sum":
                    run_cols[m.name] = (rsum, nvr == 0)
                else:
                    run_cols[m.name] = (
                        rsum / np.maximum(nvr, 1),
                        nvr == 0,
                    )
        emit_idx = vidx[keep]
        emit_iid = iid[keep]
        if not len(emit_idx):
            return
        cols: dict[str, object] = {}
        for c in data_cols:
            cols[c] = data_arrays[c][emit_idx]
        cols["classifier"] = rv[keep]
        cols["match_seq"] = mn[emit_iid] - 1
        for m in measure_list:
            if m.name in run_cols:
                vals, nmask = run_cols[m.name]
                v = np.asarray(vals)[keep]
                if nmask is None:
                    cols[m.name] = v
                else:
                    ser = pd.Series(v)
                    ser[np.asarray(nmask)[keep]] = None
                    cols[m.name] = ser.to_numpy()
            else:
                cols[m.name] = isl_vals[m.name][emit_iid]
        out = pd.DataFrame(cols, columns=out_names)
        _null_safe_agg_cast(out, measure_list, out_schema)
        yield out

    return sorted_p.mapInPandas(scan_partition, out_schema)
