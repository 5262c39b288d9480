"""Streaming CEP operator (Structured Streaming).

The same NFA core as batch, run under
``groupBy(key).applyInPandasWithState(...)`` with event-time timeouts —
the Spark-idiomatic equivalent of Flink's CepOperator on a keyed stream
(CEP.pattern(keyedStream, pattern), FlinkCEPExample.scala:76):

- **watermark**: ``withWatermark(order_col, delay)`` reproduces the
  reference's bounded-out-of-orderness assigner
  (``currentMaxTimestamp - maxOutOfOrderness``,
  FlinkCEPExample.scala:27-42) — same model, computed per micro-batch.
  Spark's watermark is the late-drop bound: it drops rows at or below
  it before they reach the operator (Flink CEP drops late events the
  same way; documented).
- **event-time frontier**: each bucket's clock is F = max(watermark,
  m − delay), where m is the largest event time among the rows the
  invocation brought, floored to the millisecond. Spark publishes its
  next watermark at or above F and then drops every row at or below
  it, so no row still to come sorts at or before F, and the operator
  acts on F one micro-batch before the watermark gets there. The delay
  is read from the plan's ``EventTimeWatermark`` node; a plan with any
  other watermark keeps F = watermark.
- **buffer-and-sort-on-frontier**: Flink's CepOperator buffers events
  per key and advances the NFA in event-time order as the watermark
  passes them; here that buffer lives in the group state, and each
  invocation releases buffered rows ≤ F, sorted by (event-time,
  tiebreak), into the NFA (SURVEY §1.5 "load-bearing").
- **within / absence timeouts**: deadlines up to F fire in the
  invocation. The state's event-time timeout is set to the earliest
  pending obligation — a partial's deadline or a buffered row's
  release time — so a key with no new data still emits its absence
  alert once the watermark reaches the deadline
  (TimedOutPartialMatchHandler,
  FlinkCEPAbsenceOfEventExample.scala:79,93-103). Spark's no-data
  micro-batches (on by default) advance the watermark to fire these;
  a timed-out invocation brings no rows, so its F is the watermark.
- **side outputs**: match + timeout rows share one schema with a
  ``tag`` column (no OutputTag in Structured Streaming; SURVEY §2.3).

One operator, :func:`match_pattern_stream`, serves both spec kinds — a
single pattern (``PatternSpec``) and a top-level alternation
(``AlternationSpec``, which PERMUTE compiles to) — as Flink's one
CepOperator serves every pattern. Buffering, late drop, release and
sort, navigation, measure emission, the reorder hold and state
persistence are shared; only three things differ by kind (and with
them the reorder hold's key, which an alternation widens to
``(start, end, alternative)``):

- per-key state: one ``NfaState`` (single) or one per alternative plus
  the leftmost-derivation held completions (alternation);
- the per-row step: ``Nfa.step`` (single) or
  ``coordinate_alternation_row`` (alternation);
- the frontier advance: a single pattern emits matches and timeouts;
  an alternation resolves its held completions.

State per key = (event buffer beyond the frontier) + (open partial
matches within the ``within`` horizon) — both bounded by the
watermark-delay / within horizons, so state size is O(events per key
per horizon), not O(stream length). Predicates are evaluated
vectorized in Spark SQL before the shuffle, exactly as in batch.

``transformWithStateInPandas`` (Spark 4.x) could replace
``applyInPandasWithState`` here 1:1 (ValueState handles + native
timers). We stay on the older API because the newer one needs the
``protobuf`` package at runtime, and a RocksDB state store; the older
one runs on the default HDFS state store with no extra dependency.
"""

from __future__ import annotations

import decimal
import pickle
import re
from typing import Any, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_cep_examples_spark.operators.cep_batch import (
    all_rows_output_schema,
    output_schema,
)
from flink_cep_examples_spark.operators.nfa import (
    Nfa,
    NfaState,
    coordinate_alternation_row,
    resolve_alternation_helds,
)
from flink_cep_examples_spark.operators.partition_scan import (
    float_key_flags,
    null_flag,
)
from flink_cep_examples_spark.plans.pattern import (
    AGG_FNS,
    NILADIC_FNS,
    AlternationSpec,
    PatternSpec,
    SKIP_PAST_LAST_EVENT,
)
from flink_cep_examples_spark.schemas import MATCH_TAG, TIMEOUT_TAG

_PRED_PREFIX = "__cep_p_"
_TS_COL = "__cep_ts_us"
_BUCKET_COL = "__cep_bucket"
#: a NaN float key in the bucket dicts' keys: NaN ≠ NaN, and no float
#: equals this string (``float("NaN")`` turns it back for the output)
_NAN_KEY = "NaN"

#: state: one pickled blob per KEY-BUCKET — a tuple holding a prefix of
#: its kind's _STATE_FIELDS layout
_STATE_SCHEMA = T.StructType([T.StructField("blob", T.BinaryType(), True)])

#: per-kind layout of the state tuple, by spec type. A query stores
#: the prefix its spec needs (``pending_out`` only with the reorder
#: hold, ``nav_tails`` only with PREV/NEXT), and shorter prefixes are
#: the legacy checkpoint shapes, so any of them restores: a single
#: pattern's 2-tuple predates MATCH_NUMBER (round 5); an alternation's
#: 2-tuple predates leftmost derivation and its 3-tuple MATCH_NUMBER.
#: ``states`` maps key → NfaState (single) or key → list of NfaState,
#: one per alternative; ``helds`` maps key → the alternation's
#: leftmost held completions.
_STATE_FIELDS = {
    PatternSpec: (
        "buffer", "states", "match_nos", "nav_tails", "pending_out"
    ),
    AlternationSpec: (
        "buffer", "states", "helds", "match_nos", "nav_tails", "pending_out"
    ),
}


# --- ALL ROWS capture accumulator (round 12, ADVICE r11 low) ----------
# The round-11 fold extended the capture by TUPLE CONCATENATION —
# ``acc + ((*payload, ord_),)`` — copying the whole accumulator on
# every consumed row: O(k²) time per k-row span per live branch, well
# beyond the documented O(rows per live run) state class for long
# B*-style runs under a wide within horizon. The replacement is a
# shared append-only log with per-branch prefix lengths:
#
#   acc = [n, log]  — this branch's capture is log[:n]
#
# Extension is O(1) amortized: when this branch is the log's tip
# (len(log) == n) it appends in place; a sibling branch that diverged
# earlier copies its prefix ONCE (O(n)) and owns the copy thereafter.
# Branches forked from one ancestor share the log's storage — they
# only ever read their own prefix — and pickle's memo serializes the
# shared list once per state blob, so checkpoint size stays O(rows
# per live run), not O(branches × rows). A plain-tuple accumulator
# restoring from a pre-round-12 checkpoint is migrated on first touch.


def _dec2f(x):
    """Exact-accumulator → double-field boundary conversion. A DECIMAL
    source folds exactly in decimal.Decimal; the SUM/AVG output fields
    are DOUBLE (_measure_field), and applyInPandasWithState's own
    decimal→double cast is LOSSY (probed: it scales the unscaled int
    by a 10^-scale double — Decimal('0.100000') comes back
    0.09999999999999999), so the operator converts in Python, where
    float(Decimal) rounds correctly. Non-decimals pass through (an
    integral SUM keeps its LongType field)."""
    return float(x) if isinstance(x, decimal.Decimal) else x


def _cap_init(payload, ord_):
    return [1, [(*payload, ord_)]]


def _cap_fold(acc, payload, ord_):
    if type(acc) is tuple:  # pre-round-12 checkpoint: flat entry tuple
        acc = [len(acc), list(acc)]
    n, log = acc
    if len(log) == n:
        log.append((*payload, ord_))
    else:  # a sibling branch extended this log first: copy-diverge
        log = log[:n]
        log.append((*payload, ord_))
    return [n + 1, log]


def _cap_rows(acc):
    """Captured rows of one span's accumulator, oldest first (accepts
    the pre-round-12 flat-tuple checkpoint shape)."""
    if type(acc) is tuple:
        return acc
    n, log = acc
    return log if len(log) == n else log[:n]


# --- streaming PREV/NEXT navigation (round 13) ------------------------
# Nav predicates cannot be evaluated by Catalyst before the shuffle:
# PREV/NEXT read the per-key (order, tiebreak)-adjacent PHYSICAL row,
# which may live in another micro-batch, and Structured Streaming has
# no lag/lead window (the natural two-stage fix — a first stateful
# reorder stage attaching nav columns, Catalyst in between, then this
# operator — is closed off at the engine level: Spark rejects multiple
# applyInPandasWithState per query, probed on 4.1, round 11). Instead
# the stateful operator computes nav columns ITSELF from its own
# frontier-sorted per-key sequence (PREV(x, n): the last n released
# rows per key are kept as a tiny tail state; NEXT(x, n): the last n
# frontier-eligible rows per key are HELD BACK until their successors
# become eligible — the NFA clock for a held key advances only to the
# first held row's timestamp, so within-deadlines cannot fire before
# the row is fed) and evaluates the nav-referencing predicates
# worker-side with DuckDB over the released frame. To keep that
# evaluation EXACT, the predicate is token-gated to the dialect
# intersection where Spark SQL and DuckDB agree (comparisons,
# arithmetic with true division and sign-of-dividend %, AND/OR/NOT
# three-valued logic, IS [NOT] NULL, BETWEEN, IN over literals, ABS,
# NULL→FALSE coalescing — probed semantics, differential-tested
# against the batch tier); anything outside the gate raises a named
# NotImplementedError pointing at the batch tier.

_NAV_SQL_TOKEN = re.compile(
    r"""\s+
      | '(?:[^']|'')*'                       # string literal
      | \d+\.\d*(?:[eE][+-]?\d+)? | \.\d+ | \d+(?:[eE][+-]?\d+)?
      | [A-Za-z_][A-Za-z_0-9]*               # identifier / keyword
      | <= | >= | <> | != | = | < | >
      | [+\-*/%(),]
    """,
    re.VERBOSE,
)

_NAV_SQL_KEYWORDS = {
    "and", "or", "not", "is", "null", "true", "false",
    "between", "in", "abs",
}


def _compile_stream_nav(
    spec: PatternSpec | AlternationSpec, df_cols: list[str]
) -> dict:
    """Validate nav-referencing predicates against the Spark≡DuckDB
    token gate and plan the in-operator evaluation. Returns
    ``{"pred_idx": set, "needed": tuple, "max_prev": int,
    "max_next": int}`` — the predicate indexes that must be evaluated
    worker-side, the base input columns the buffer must carry for
    them, and the largest PREV/NEXT offsets (tail length / holdback
    depth)."""
    aliases = {alias for alias, _src, _off, _kind in spec.nav_cols}
    max_prev = max(
        (off for _a, _s, off, kind in spec.nav_cols if kind == "prev"),
        default=0,
    )
    max_next = max(
        (off for _a, _s, off, kind in spec.nav_cols if kind == "next"),
        default=0,
    )
    pred_idx: set[int] = set()
    needed: set[str] = {src for _a, src, _o, _k in spec.nav_cols}
    for i, expr in enumerate(spec.pred_exprs):
        if not any(a in expr for a in aliases):
            continue  # nav-free: stays on the pre-shuffle Catalyst path
        pred_idx.add(i)
        pos = 0
        for m in _NAV_SQL_TOKEN.finditer(expr):
            if m.start() != pos:
                break
            pos = m.end()
        if pos != len(expr):
            raise NotImplementedError(
                f"streaming PREV()/NEXT(): the defining predicate "
                f"{expr!r} uses SQL outside the token subset where the "
                f"in-operator evaluation is dialect-exact (columns, "
                f"literals, comparisons, + - * / %, AND/OR/NOT, IS "
                f"[NOT] NULL, BETWEEN, IN, ABS); unsupported from "
                f"offset {pos}: {expr[pos:pos + 25]!r} — use the batch "
                f"operator inside foreachBatch"
            )
        toks = [
            m.group(0)
            for m in _NAV_SQL_TOKEN.finditer(expr)
            if m.group(0).strip()
        ]
        for j, tok in enumerate(toks):
            if tok in ("/", "%"):
                # ANSI divergence (probed on Spark 4, ANSI default ON):
                # Spark raises on a zero divisor where DuckDB yields
                # NULL — admit division/modulo ONLY with a nonzero
                # NUMERIC LITERAL divisor (the `event_id % 4` shapes);
                # a column or expression divisor goes batch-tier loud.
                nxt = toks[j + 1] if j + 1 < len(toks) else ""
                try:
                    ok_div = float(nxt) != 0.0
                except ValueError:
                    ok_div = False
                if not ok_div:
                    raise NotImplementedError(
                        f"streaming PREV()/NEXT(): {tok!r} in "
                        f"{expr!r} needs a nonzero numeric LITERAL "
                        f"divisor (Spark ANSI raises on zero divisors "
                        f"where the in-operator DuckDB evaluation "
                        f"yields NULL); use the batch operator inside "
                        f"foreachBatch"
                    )
            if not (tok[0].isalpha() or tok[0] == "_"):
                continue
            low = tok.lower()
            if low in _NAV_SQL_KEYWORDS or tok in aliases:
                continue
            if j + 1 < len(toks) and toks[j + 1] == "(":
                # identifier applied as a FUNCTION — outside the gate
                # (only ABS is in the probed dialect intersection)
                raise NotImplementedError(
                    f"streaming PREV()/NEXT(): the defining predicate "
                    f"{expr!r} calls {tok}(), outside the token subset "
                    f"where the in-operator evaluation is dialect-exact"
                    f" (only ABS is gated in); use the batch operator "
                    f"inside foreachBatch"
                )
            if tok not in df_cols:
                raise ValueError(
                    f"streaming nav predicate {expr!r} references "
                    f"unknown column {tok!r}"
                )
            needed.add(tok)
    return {
        "pred_idx": pred_idx,
        "needed": tuple(sorted(needed)),
        "max_prev": max_prev,
        "max_next": max_next,
    }


def _nav_transform(
    release: pd.DataFrame,
    buffer: pd.DataFrame | None,
    tails: pd.DataFrame | None,
    group_cols: list[str],
    tiebreak: str,
    buf_cols: list[str],
    nav_specs: list[tuple[str, str, int, str]],
    nav_pred_sql: dict[int, str],
    nav_needed: tuple[str, ...],
    max_prev: int,
    max_next: int,
) -> tuple[
    pd.DataFrame, pd.DataFrame | None, pd.DataFrame | None, pd.DataFrame, dict
]:
    """One micro-batch of streaming PREV/NEXT navigation over the
    (key, order, tiebreak)-sorted release frame. Keys group by
    ``group_cols`` with NULL as a key of its own.

    - PREV(x, n): lag within [tail rows ‖ release] per key — ``tails``
      holds each key's last ``max_prev`` FED rows, so a lag that
      crosses the micro-batch boundary reads exactly the row the batch
      window would. Every tail row was fed at or below a bucket's
      event-time frontier, which the watermark has reached since, and
      Spark drops arrivals at or below the watermark, so a stable sort
      with tails first reproduces feed order.
    - NEXT(x, n): lead within the eligible sequence. The last
      ``max_next`` eligible rows per key are HELD BACK (returned to
      the buffer): their successor may arrive in a later batch, and no
      future arrival can sort before them, so once ``max_next``
      successors are eligible their lead values are final. On an
      unbounded stream a key's final rows stay pending — the streaming
      "not yet decidable" twin of a row above the frontier (finite
      replays flush with a per-key sentinel, as the agreement tests
      do).
    - Nav predicates evaluate over the fed frame via DuckDB, restricted
      by the _compile_stream_nav token gate to the dialect intersection
      where Spark SQL and DuckDB agree; NULL → FALSE (the NFA prepare
      convention). Row alignment is pinned with an explicit ORDER BY
      on a row-number column.

    Returns ``(fed, buffer, tails, held, pred_over)``: rows to feed
    (with nav columns attached), the buffer grown by the held-back
    rows, the rolled-forward tail state, the held-back rows in
    (key, order) order (each key's first one caps its NFA clock), and
    predicate-index → bool array overrides aligned to ``fed``.
    """
    import numpy as np

    mark = "__nav_tail"
    if tails is not None and len(tails):
        t = tails.copy()
        t[mark] = True
        r = release.copy()
        r[mark] = False
        work = pd.concat([t, r], ignore_index=True)
        work = work.sort_values(
            [*group_cols, _TS_COL, tiebreak], kind="mergesort"
        )
    else:
        work = release.copy()
        work[mark] = False
    g = work.groupby(group_cols, sort=False, dropna=False)
    aliases = []
    for alias, src, off, kind in nav_specs:
        col = work[src]
        if col.dtype.kind in "iu":
            # a plain-numpy int column would shift through float64
            # (NaN holes) and lose exactness past 2**53 — the batch
            # lag is an exact long. Nullable Int64 shifts losslessly.
            shifted = (
                work[src]
                .astype("Int64")
                .groupby(
                    [work[k] for k in group_cols], sort=False, dropna=False
                )
                .shift(off if kind == "prev" else -off)
            )
        else:
            shifted = g[src].shift(off if kind == "prev" else -off)
        work[alias] = shifted
        aliases.append(alias)
    cand = work[~work[mark].to_numpy(dtype=bool)]

    held = cand.iloc[:0]
    if max_next and len(cand):
        rev = cand.groupby(group_cols, sort=False, dropna=False).cumcount(
            ascending=False
        )
        hmask = (rev < max_next).to_numpy()
        fed = cand[~hmask]
        held = cand[hmask]
        if len(held):
            add = held[buf_cols]
            buffer = (
                add.reset_index(drop=True)
                if buffer is None or not len(buffer)
                else pd.concat([buffer, add], ignore_index=True)
            )
    else:
        fed = cand
    fed = fed.reset_index(drop=True)

    pred_over: dict[int, Any] = {}
    if len(fed) and nav_pred_sql:
        import duckdb

        cols = list(dict.fromkeys([*nav_needed, *aliases]))
        frame = fed[cols].copy()
        frame["__nav_rn"] = np.arange(len(frame), dtype=np.int64)
        sel = ", ".join(nav_pred_sql[i] for i in sorted(nav_pred_sql))
        con = duckdb.connect()
        try:
            con.register("t", frame)
            res = con.execute(
                f"SELECT {sel} FROM t ORDER BY __nav_rn"
            ).df()
        finally:
            con.close()
        for i in sorted(nav_pred_sql):
            pred_over[i] = res[f"p{i}"].to_numpy(dtype=bool)

    if max_prev:
        pool = fed[buf_cols]
        if tails is not None and len(tails):
            pool = pd.concat([tails, pool], ignore_index=True)
        rev = pool.groupby(group_cols, sort=False, dropna=False).cumcount(
            ascending=False
        )
        tails = pool[(rev < max_prev).to_numpy()].reset_index(drop=True)

    return fed[buf_cols + aliases], buffer, tails, held, pred_over


def _prepare_stream(
    df: DataFrame,
    spec: PatternSpec | AlternationSpec,
    extra_cols: tuple[str, ...] = (),
    skip_pred_idx: frozenset[int] = frozenset(),
    flags: dict | None = None,
) -> DataFrame:
    needed = {m.src for m in spec.measures if m.fn != "count" and m.src}
    needed.update(spec.key_cols)
    needed.add(spec.tiebreak_col)
    needed.add(spec.order_col)  # kept for the watermark; in `needed` so a
    # measure over the event-time column doesn't select it twice
    needed.update(extra_cols)  # ALL ROWS: every input column is output
    cols = [F.col(c) for c in sorted(needed)]
    cols.append(F.unix_micros(F.col(spec.order_col).cast(T.TimestampType())).alias(_TS_COL))
    for i, e in enumerate(spec.pred_exprs):
        if i in skip_pred_idx:
            # nav-referencing predicate: Catalyst cannot see the
            # lag/lead value pre-shuffle — a FALSE placeholder keeps
            # the column layout; the operator recomputes it at release
            cols.append(F.lit(False).alias(f"{_PRED_PREFIX}{i}"))
        else:
            cols.append(F.expr(e).alias(f"{_PRED_PREFIX}{i}"))
    cols.extend(e.alias(name) for name, e in (flags or {}).items())
    return df.select(*cols)


def _frontier_delay_ms(prepared: DataFrame) -> int | None:
    """The watermark delay of ``prepared``'s one ``EventTimeWatermark``
    node, in ms, converted as Spark converts it; None when the plan
    holds any other watermark, because Spark's watermark is then not
    this column's maximum minus this delay."""
    nodes, stack = [], [prepared._jdf.queryExecution().logical()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "EventTimeWatermark":
            nodes.append(node)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    if len(nodes) != 1:
        return None
    jvm = prepared.sparkSession._jvm
    return int(
        jvm.org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
        .getDelayMs(nodes[0].delay())
    )


def _float_key_array(vals: list, dtype) -> pd.api.extensions.ExtensionArray:
    """A float key column of the output from the bucket dicts' key
    values: NULL (None) is masked, and NaN stays NaN through Arrow (an
    unmasked float column would send it as NULL)."""
    return pd.arrays.FloatingArray(
        np.array([np.nan if v is None else float(v) for v in vals], dtype),
        np.array([v is None for v in vals], dtype=bool),
    )


def match_pattern_stream(
    df: DataFrame,
    spec: PatternSpec | AlternationSpec,
    watermark_delay: str = "6 minutes",
    n_buckets: int | None = None,
) -> DataFrame:
    """Streaming row-pattern recognition. ``df`` must be a streaming
    DataFrame containing ``spec.order_col`` as a timestamp column.
    Default watermark delay mirrors the reference's 6-minute
    out-of-orderness (FlinkCEPExample.scala:28). Output: append-mode
    stream with keys + measures + ``tag`` — or, under ``ALL ROWS PER
    MATCH`` (round 11), every input column + per-row classifier +
    per-key 0-based match_seq + FINAL measures, one output row per
    consumed row of each completed match.

    ``spec`` may also be a top-level PATTERN alternation
    (:class:`AlternationSpec`, which PERMUTE compiles to): one
    NfaState PER ALTERNATIVE per key rides the state store, released
    rows feed every alternative in lockstep, and emission runs the same
    union skip discipline as batch (operators/nfa.py::
    coordinate_alternation_row — the shared core, so the two tiers
    cannot drift). Its output has no ``tag`` column (alternation has no
    timeout channel), as in batch; per-row cost is the sum of the
    alternatives' live branches.

    Scale note (the 100 TB lever): state is grouped by a HASH BUCKET of
    the key, not by the key itself — ``applyInPandasWithState`` invokes
    Python and (un)pickles state once per group per micro-batch, so
    per-key grouping costs O(distinct keys) crossings (~10k/s ceiling)
    while bucketing costs O(n_buckets). Inside a bucket the per-key
    buffers/NFA states live in one dict; semantics per key are
    unchanged (verified by the batch-vs-stream differential tests).
    ``n_buckets`` defaults to 4× ``spark.sql.shuffle.partitions`` —
    enough groups to spread across state-store tasks, few enough that
    Arrow/pickle overhead amortizes."""
    alt = isinstance(spec, AlternationSpec)
    spec.validate()
    allowed = ("first", "last", "count", *NILADIC_FNS, *AGG_FNS)
    unsupported = {m.fn for m in spec.measures if m.fn not in allowed}
    if unsupported:
        # CLASSIFIER() reads the match's own span ordinals;
        # MATCH_NUMBER() (round 5) is a per-key monotone counter in
        # the bucket state — one int64 per key ever matched, the same
        # growth class as a streaming groupBy count and far below the
        # NFA/buffer state itself. Aggregates (round 11) fold
        # incrementally into each span's accumulator
        # (Nfa.enable_payload_fold) — per-variable (sum, n_nonnull,
        # min, max) per source column, O(1) state per live branch, no
        # matched-row retention. SUBSET unions (round 11) merge the
        # component spans at emission, the batch _resolve_spans rule.
        raise NotImplementedError(
            f"streaming measures support {'/'.join(allowed)}, "
            f"got {sorted(unsupported)}"
        )
    # PREV/NEXT navigation (round 13): in-operator nav columns + token-
    # gated DuckDB predicate evaluation (_nav_transform); under
    # alternation the holdback clock cap applies to EVERY alternative's
    # advance (lockstep is preserved — advance_time never touches row
    # ordinals)
    nav_conf = (
        _compile_stream_nav(spec, df.columns) if spec.nav_cols else None
    )
    if nav_conf is not None:
        # the gate needs duckdb on the workers; fail at build, not in
        # the first micro-batch
        try:
            import duckdb  # noqa: F401
        except ImportError as ex:  # pragma: no cover — baked into env
            raise NotImplementedError(
                "streaming PREV()/NEXT() evaluates nav predicates "
                "in-operator via duckdb, which is not importable: "
                f"{ex}; use the batch operator inside foreachBatch"
            ) from ex
    alts = spec.alternatives if alt else (spec,)
    all_rows = alts[0].rows_per_match == "all"
    measures = list(spec.measures)
    has_mn = any(m.fn == "match_number" for m in measures)
    # batch numbers matches in (start, end[, alternative]) order. Under
    # SKIP PAST LAST (round 12) matches are DISJOINT and resolve
    # sequentially by start, so emission order IS start order and a
    # per-key counter reproduces the batch numbering directly. With
    # overlapping matches (NO_SKIP / SKIP TO NEXT) a later start can
    # complete first: a longest-derivation start's run dying while an
    # earlier one still extends, or alternatives of different lengths,
    # e.g. (A C | A D{3}), start s completing via the 4-row branch
    # AFTER start s+1 completed via the 2-row one (round-13 probe) —
    # and leftmost held resolution can likewise emit out of start
    # order. Round 13's per-key START-ORDER REORDER HOLD buffers
    # completed matches by start and releases (numbers) them only once
    # no live run or held completion with an earlier start remains, so
    # emission order is correct BY CONSTRUCTION for every expressible
    # grammar. An eager single pattern needs no hold: it emits each
    # completion as its row is fed, in start order.
    reorder_starts = (
        (alt or spec.derivation == "longest")
        and spec.after_match != SKIP_PAST_LAST_EVENT
        and (all_rows or has_mn)
    )
    if all_rows:
        # ALL ROWS PER MATCH streams since round 11: the span fold
        # captures each consumed row's (data columns, release ordinal),
        # so a completed match expands to its rows at emission. State
        # grows O(rows per live run) — the same class (and bound: the
        # ``within`` horizon) as the event buffer itself. Beyond the
        # reference: Flink SQL MATCH_RECOGNIZE is ONE ROW PER MATCH
        # only on streams.
        if spec.emit_timeouts:
            raise ValueError("ALL ROWS PER MATCH has no timeout channel")
        out_schema = all_rows_output_schema(df, spec)
    else:
        out_schema = output_schema(df, spec)
        if alt:  # no timeout channel → no tag column (as batch)
            out_schema = T.StructType(out_schema.fields[:-1])
    if n_buckets is None:
        try:
            n_buckets = 4 * int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except (TypeError, ValueError):  # e.g. "auto"
            n_buckets = 4 * df.sparkSession.sparkContext.defaultParallelism
    key_cols = list(spec.key_cols)
    # a float key's isnull flag, as in the batch scan: pandas reads a
    # NULL float as NaN
    flags = float_key_flags(df, key_cols)
    float_keys = {
        k: np.float32 if df.schema[k].dataType == T.FloatType() else np.float64
        for k in key_cols
        if null_flag(k) in flags
    }
    prepared = (
        _prepare_stream(
            df,
            spec,
            extra_cols=(tuple(df.columns) if all_rows else ())
            + (nav_conf["needed"] if nav_conf is not None else ()),
            skip_pred_idx=frozenset(
                nav_conf["pred_idx"] if nav_conf is not None else ()
            ),
            flags=flags,
        )
        .withColumn(
            _BUCKET_COL,
            F.pmod(F.xxhash64(*spec.key_cols), F.lit(n_buckets)).cast("int"),
        )
        .withWatermark(spec.order_col, watermark_delay)
    )
    delay_ms = _frontier_delay_ms(prepared)

    data_cols = list(df.columns)
    # sort and group by these: NULL and NaN float keys are two keys
    group_cols = [*key_cols, *flags]
    tiebreak = spec.tiebreak_col
    after = spec.after_match
    subset_map = dict(spec.subsets)

    def _components(mvar: str) -> tuple[str, ...]:
        return subset_map.get(mvar, (mvar,))

    # the span payload tuple: every measure source column (a SUBSET
    # measure's src rides every component variable's spans), in sorted
    # order — a checkpointed span's payload is positional in it
    all_srcs = sorted(
        {m.src for m in measures if m.fn not in ("count", *NILADIC_FNS)}
    )
    if all_rows:
        # every input column is output, so payloads carry them all
        all_srcs = sorted(set(data_cols) | set(all_srcs))
    pred_cols = [f"{_PRED_PREFIX}{i}" for i in range(len(spec.pred_exprs))]
    out_names = [f.name for f in out_schema.fields]
    excluded_vars = {v.name for a in alts for v in a.variables if v.excluded}
    payload_idx = {c: i for i, c in enumerate(all_srcs)}

    # compiled NFAs shared by every bucket group on the worker (they are
    # key-stateless: per-key state lives in NfaState)
    nfas = [Nfa(a) for a in alts]
    nfa = nfas[0]
    # aggregate MEASURES (round 11, VERDICT r10 item 2): fold
    # (sum, n_nonnull, min, max) per aggregated source column into each
    # span's 6th field as the variable consumes rows — O(1) extra state
    # per live branch, no matched-row retention, NULL/NaN rows skipped
    # (SQL aggregate semantics, matching the batch evaluator's
    # vals.count()/sum()/mean()/min()/max() over non-null rows)
    agg_srcs = sorted({m.src for m in measures if m.fn in AGG_FNS})
    agg_slot = {
        m.name: agg_srcs.index(m.src)
        for m in measures
        if m.fn in AGG_FNS
    }
    fold = None
    if all_rows:
        # ALL ROWS (round 11): the fold captures every consumed row —
        # (payload..., release ordinal) — so emission expands a match
        # to its rows; aggregates then compute from the captured rows
        # directly (no separate accumulator needed). Round 12: shared
        # append-only log, O(1) amortized per row (_cap_fold).
        fold = (_cap_init, _cap_fold)
    elif agg_srcs:
        agg_pos = [all_srcs.index(s) for s in agg_srcs]

        def _acc1(v):
            if v is None or v != v:  # None / NaN: no contribution
                return (0, 0, None, None)
            return (v, 1, v, v)

        def _fold1(acc, v):
            if v is None or v != v:
                return acc
            s, n, mn, mx = acc
            return (
                s + v,
                n + 1,
                v if mn is None or v < mn else mn,
                v if mx is None or v > mx else mx,
            )

        fold = (
            lambda payload, _o: tuple(_acc1(payload[j]) for j in agg_pos),
            lambda acc, payload, _o: tuple(
                _fold1(a, payload[j]) for a, j in zip(acc, agg_pos)
            ),
        )
    if fold is not None:
        for nf in nfas:
            nf.enable_payload_fold(*fold)
    if alt:
        # each alternative's slice of the concatenated predicate columns
        offsets = []
        pos = 0
        for a in alts:
            offsets.append((pos, len(a.pred_exprs)))
            pos += len(a.pred_exprs)
        begin_pred_cols = [
            tuple(s + bp for bp in nf.begin_preds)
            for (s, _), nf in zip(offsets, nfas)
        ]
        leftmost = spec.derivation == "leftmost"
    # columns the buffer must retain (stable order, no duplicates)
    buf_cols = list(
        dict.fromkeys(
            [*group_cols, _TS_COL, tiebreak, *pred_cols, *all_srcs]
            + (list(nav_conf["needed"]) if nav_conf is not None else [])
        )
    )
    nav_specs = list(spec.nav_cols)  # (alias, src, off, kind)
    nav_pred_sql = (
        {
            i: f"coalesce(({spec.pred_exprs[i]}), false) AS p{i}"
            for i in sorted(nav_conf["pred_idx"])
        }
        if nav_conf is not None
        else {}
    )
    state_fields = _STATE_FIELDS[type(spec)]
    # stored prefix: the reorder hold is the last field, nav_tails the
    # one before it (None when the spec has no nav)
    n_stored = len(state_fields) - (
        0 if reorder_starts else 1 if nav_conf is not None else 2
    )

    def _measure_value(m, match: dict, mn):
        """FINAL value of measure ``m`` for one match. A SUBSET union
        merges its ordered component spans — FIRST from the earliest,
        LAST from the span with the largest LAST ordinal (the batch
        _make_measure_eval rule), COUNT summed, aggregates combined
        over the var's ACTUAL rows, NULL/NaN skipped (SQL)."""
        if m.fn == "match_number":
            return mn
        if m.fn == "classifier":
            # variable that consumed the match's LAST row: the span
            # with the largest per-key row ordinal
            return (
                max(match.items(), key=lambda kv: kv[1][4])[0]
                if match
                else None
            )
        spans = sorted(
            (match[c] for c in _components(m.var) if match.get(c)),
            key=lambda sp: sp[3],
        )
        if not spans:
            return 0 if m.fn in ("count", "count_col") else m.default
        if m.fn == "count":
            return sum(sp[2] for sp in spans)
        if m.fn == "first":
            return spans[0][0][payload_idx[m.src]]
        if m.fn == "last":
            return max(spans, key=lambda sp: sp[4])[1][payload_idx[m.src]]
        if all_rows:  # aggregate over the captured rows
            j = payload_idx[m.src]
            parts = [
                (v, 1, v, v)
                for sp in spans
                for p in _cap_rows(sp[5])
                if (v := p[j]) is not None and v == v
            ]
        else:
            # each span's folded accumulator (6th field); a 5-field
            # span can only come from a checkpoint written without
            # aggregates — the registered state schema is a fixed
            # binary blob, so Spark CANNOT reject such a restart
            # itself: fail loud naming the cause instead of an opaque
            # IndexError
            if any(len(sp) < 6 for sp in spans):
                raise RuntimeError(
                    "restored span has no aggregate accumulator: this "
                    "checkpoint was written by a query without aggregate "
                    "measures; restart from a fresh checkpoint directory"
                )
            parts = [sp[5][agg_slot[m.name]] for sp in spans]
        s = n = 0
        lo = hi = None
        for s1, n1, lo1, hi1 in parts:
            s, n = s + s1, n + n1
            if lo1 is not None and (lo is None or lo1 < lo):
                lo = lo1
            if hi1 is not None and (hi is None or hi1 > hi):
                hi = hi1
        if m.fn == "count_col":
            return n
        if n == 0:
            return None  # SQL: all-NULL rows
        if m.fn == "sum":
            return _dec2f(s)
        if m.fn == "avg":
            return _dec2f(s / n)
        return lo if m.fn == "min" else hi

    running_ms = [
        m
        for m in measures
        if m.running and m.fn not in ("classifier", "match_number")
    ]
    # ALL ROWS output: key columns from the key, the rest from the row
    row_src = (
        [(c, payload_idx[c]) for c in data_cols if c not in key_cols]
        if all_rows
        else []
    )

    def key_arrays(frame: pd.DataFrame) -> list:
        """Per key column, the values the bucket dicts key on. pandas
        reads NULL as NaN or NaT, which equal nothing, so NULL becomes
        None and a float key's NaN becomes ``_NAN_KEY``."""
        arrs = []
        for k in key_cols:
            a = frame[k].to_numpy()
            na = pd.isna(a)
            if na.any():
                a = a.astype(object)
                a[na] = None
                if k in float_keys:
                    a[na & ~frame[null_flag(k)].to_numpy(dtype=bool)] = _NAN_KEY
            arrs.append(a)
        return arrs

    def process(
        bucket: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        # bucket state (_STATE_FIELDS): the columnar event buffer as a
        # pandas DataFrame — pickles as a handful of numpy blocks, ~6×
        # smaller and ~100× fewer objects than per-row tuples — and the
        # per-key NFA state(s); fields a legacy shape lacks start empty
        stored = (
            dict(zip(state_fields, pickle.loads(state.get[0])))
            if state.exists
            else {}
        )
        buffer = stored.get("buffer")
        nfa_states: dict = stored.get("states", {})
        alt_helds: dict = stored.get("helds", {})  # alternation, leftmost
        match_nos: dict = stored.get("match_nos", {})
        nav_tails = stored.get("nav_tails")  # per-key PREV tail rows
        pending_out: dict = stored.get("pending_out", {})  # reorder hold

        # the bucket's event-time frontier F, its clock for release and
        # timeouts: Spark's next watermark is at least this invocation's
        # largest live event time, floored to the ms, minus the delay,
        # and Spark drops every later row at or below that watermark,
        # so no row still to come sorts at or before F. Rows of earlier
        # batches are already under the watermark, so F needs no state.
        frontier_us = wm_us
        frames = [] if buffer is None else [buffer]
        if not state.hasTimedOut:
            for pdf in pdfs:
                if len(pdf):
                    # late beyond watermark: dropped (as Flink CEP);
                    # vectorized — ingest touches no Python rows
                    ts = pdf[_TS_COL].to_numpy()
                    keep = ts >= wm_us
                    if keep.any():
                        frames.append(pdf[keep][buf_cols])
                        if delay_ms is not None:
                            m_ms = int(ts[keep].max()) // 1000
                            frontier_us = max(
                                frontier_us, (m_ms - delay_ms) * 1000
                            )
        allbuf = (
            frames[0]
            if len(frames) == 1
            else pd.concat(frames, ignore_index=True)
            if frames
            else None
        )

        # one output accumulator for the whole bucket
        data: dict[str, list] = {c: [] for c in out_names}

        def emit_all_rows(key: tuple, match: dict, mn: int) -> None:
            mvals = {m.name: _measure_value(m, match, mn) for m in measures}
            entries = [
                (p[-1], vname, p)  # (NFA ordinal, classifier, row)
                for vname, sp in match.items()
                for p in _cap_rows(sp[5])
            ]
            entries.sort(key=lambda e: e[0])
            # RUNNING measures (round 11): an incremental walk over the
            # var's captured rows clipped to the current output row —
            # the batch _running_series semantics exactly (count counts
            # rows, NULL/NaN skip aggregation, FIRST/LAST keep the
            # row's value null or not, empty prefix → NULL)
            run_rows: dict[str, list] = {}
            run_st: dict[str, list] = {}
            for m in running_ms:
                j = payload_idx.get(m.src)
                rows_m = sorted(
                    (
                        (p[-1], None if j is None else p[j])
                        for c in _components(m.var)
                        if match.get(c)
                        for p in _cap_rows(match[c][5])
                    ),
                    key=lambda t: t[0],  # ordinals are unique; never
                    # compare the (possibly None) values
                )
                run_rows[m.name] = rows_m
                # [next_idx, count, n_vals, total, mn_, mx_, first,
                # last] — total lazy-inits from the FIRST value so a
                # DECIMAL source folds exactly in decimal.Decimal (the
                # float 0.0 seed raised TypeError; the batch
                # _running_series got the same round-13 fix)
                run_st[m.name] = [0, 0, 0, None, None, None, None, None]

            def _running_value(m, ord_):
                rows_m = run_rows[m.name]
                st = run_st[m.name]
                i, cnt, nv, tot, mn_, mx_, first, last = st
                while i < len(rows_m) and rows_m[i][0] <= ord_:
                    v = rows_m[i][1]
                    cnt += 1
                    if cnt == 1:
                        first = v  # first ROW's value, null or not
                    last = v
                    if v is not None and v == v:
                        nv += 1
                        if m.fn in ("sum", "avg"):
                            tot = v if tot is None else tot + v
                        mn_ = v if mn_ is None or v < mn_ else mn_
                        mx_ = v if mx_ is None or v > mx_ else mx_
                    i += 1
                st[:] = [i, cnt, nv, tot, mn_, mx_, first, last]
                if m.fn == "count":
                    return cnt
                if m.fn == "count_col":
                    return nv
                if m.fn == "first":
                    return first if cnt else None
                if m.fn == "last":
                    return last if cnt else None
                if nv == 0:
                    return None  # SQL: aggregate over empty prefix
                if m.fn == "sum":
                    return _dec2f(tot)
                if m.fn == "avg":
                    a = tot / nv
                    return a if isinstance(a, float) else float(a)
                return mn_ if m.fn == "min" else mx_

            for ord_, vname, p in entries:
                row_runs = {
                    m.name: _running_value(m, ord_) for m in running_ms
                }
                if vname in excluded_vars:
                    continue  # {- var -}: consumed but not emitted
                for c, j in row_src:
                    data[c].append(p[j])
                for c, kv in zip(key_cols, key):
                    data[c].append(kv)
                data["classifier"].append(vname)
                data["match_seq"].append(mn - 1)  # 0-based, as batch
                for m in measures:
                    if m.name in row_runs:
                        data[m.name].append(row_runs[m.name])
                    elif m.running and m.fn == "classifier":
                        data[m.name].append(vname)
                    else:
                        data[m.name].append(mvals[m.name])

        def _emit_now(key: tuple, match: dict, tag: str) -> None:
            if tag == MATCH_TAG and (all_rows or has_mn):
                mn = match_nos[key] = match_nos.get(key, 0) + 1
            else:
                mn = None  # timeout rows carry NULL, as in batch
            if all_rows:
                if tag != MATCH_TAG:  # no timeout channel under ALL ROWS
                    raise AssertionError("timeout emission under ALL ROWS")
                emit_all_rows(key, match, mn)
                return
            for k, kv in zip(key_cols, key):
                data[k].append(kv)
            for m in measures:
                data[m.name].append(_measure_value(m, match, mn))
            if not alt:
                data["tag"].append(tag)

        def emit(key: tuple, match: dict, tag: str, ai: int = 0) -> None:
            if reorder_starts and tag == MATCH_TAG:
                # reorder hold: buffer by start ordinal; released (and
                # numbered) in start order once no earlier start is
                # still undecided. Timeout rows carry no number and
                # emit immediately. Alternation keys batch's exact sort
                # key (start, end, alternative): NO_SKIP can emit
                # several matches per start, one per alternative length.
                start = min(sp[3] for sp in match.values() if sp is not None)
                if alt:
                    end = max(sp[4] for sp in match.values() if sp is not None)
                    start = (start, end, ai)
                pending_out.setdefault(key, {})[start] = match
                return
            _emit_now(key, match, tag)

        buffer = None
        buffered_keys: set = set()
        held_min_ts: dict[tuple, int] = {}
        if allbuf is not None and len(allbuf):
            rel_mask = allbuf[_TS_COL].to_numpy() <= frontier_us
            release = allbuf[rel_mask]
            buffer = allbuf[~rel_mask]
            if len(buffer) == 0:
                buffer = None
            else:
                buffer = buffer.reset_index(drop=True)
            if len(release):
                # event-time order per key, one sorted pass over the
                # whole bucket with key-change detection — the same
                # amortization as the batch partition scan
                release = release.sort_values(
                    [*group_cols, _TS_COL, tiebreak], kind="mergesort"
                )
                pred_over: dict[int, Any] = {}
                if nav_conf is not None:
                    (
                        release,
                        buffer,
                        nav_tails,
                        held,
                        pred_over,
                    ) = _nav_transform(
                        release,
                        buffer,
                        nav_tails,
                        group_cols,
                        tiebreak,
                        buf_cols,
                        nav_specs,
                        nav_pred_sql,
                        nav_conf["needed"],
                        nav_conf["max_prev"],
                        nav_conf["max_next"],
                    )
                    for kt, t in zip(
                        zip(*key_arrays(held)), held[_TS_COL].to_numpy()
                    ):
                        held_min_ts.setdefault(kt, int(t))
                key_arrs = key_arrays(release)
                ts_arr = release[_TS_COL].to_numpy()
                pred_arr = release[pred_cols].to_numpy(dtype=bool)
                for pi, pv in pred_over.items():
                    pred_arr[:, pi] = pv
                src_arr = release[all_srcs].to_numpy() if all_srcs else None
                kt: tuple | None = None
                single = key_arrs[0] if len(key_arrs) == 1 else None
                if alt:
                    sts = None
                    for i in range(len(release)):
                        rkt = (
                            (single[i],)
                            if single is not None
                            else tuple(a[i] for a in key_arrs)
                        )
                        if rkt != kt:
                            kt = rkt
                            sts = nfa_states.get(kt)
                            if sts is None:
                                sts = nfa_states[kt] = [
                                    NfaState() for _ in nfas
                                ]
                        # skip only when EVERY alternative is inert on
                        # the row (ordinals must advance in lockstep)
                        if not any(
                            st.runs or any(pred_arr[i, fp] for fp in fps)
                            for st, fps in zip(sts, begin_pred_cols)
                        ):
                            continue
                        row = pred_arr[i]
                        pred_rows = [
                            tuple(bool(x) for x in row[s : s + k])
                            for s, k in offsets
                        ]
                        payload = (
                            tuple(src_arr[i]) if src_arr is not None else ()
                        )
                        for ai, match in coordinate_alternation_row(
                            nfas, sts, int(ts_arr[i]), pred_rows, payload,
                            after,
                            helds=(
                                alt_helds.setdefault(kt, {})
                                if leftmost
                                else None
                            ),
                        ):
                            emit(kt, match, MATCH_TAG, ai)
                else:
                    # rows that can't start a run and have no run to
                    # extend are no-ops — skip the step() call entirely
                    can_begin = (
                        pred_arr[:, nfa.begin_preds[0]]
                        if len(nfa.begin_preds) == 1
                        else pred_arr[:, list(nfa.begin_preds)].any(axis=1)
                    )
                    nst = None
                    for i in range(len(release)):
                        rkt = (
                            (single[i],)
                            if single is not None
                            else tuple(a[i] for a in key_arrs)
                        )
                        if rkt != kt:
                            kt = rkt
                            nst = nfa_states.get(kt)
                            if nst is None:
                                nst = nfa_states[kt] = NfaState()
                        if not nst.runs and not can_begin[i]:
                            continue
                        m, to = nfa.step(
                            nst,
                            int(ts_arr[i]),
                            pred_arr[i],
                            tuple(src_arr[i]) if src_arr is not None else (),
                        )
                        for x in m:
                            emit(kt, x, MATCH_TAG)
                        for x in to:
                            emit(kt, x, TIMEOUT_TAG)

        if buffer is not None and len(buffer):
            # computed AFTER the nav transform — held-back rows joined
            # the buffer and must keep their key's NFA state alive
            buffered_keys = set(zip(*key_arrays(buffer)))

        # the frontier itself may expire partials (absence alerts) or
        # confirm pending timed-absence completions (matches). A key
        # with held-back rows (streaming NEXT holdback) advances only
        # to the first held row's timestamp: those rows are ≤ frontier
        # and must be fed before any within-deadline beyond them fires
        # (feeding a row at t advances the clock to t first, so the cap
        # is exactly feed-equivalent).
        pending: list[int] = []
        for kt in list(nfa_states):
            adv = min(frontier_us, held_min_ts.get(kt, frontier_us))
            if alt:
                pairs = list(zip(nfas, nfa_states[kt]))
                for nf, st in pairs:
                    if nf.advance_time(st, adv)[0]:  # survives python -O
                        raise AssertionError(
                            "alternation state yielded pending completions "
                            "at watermark — validator must reject trailing "
                            "absence variables in alternatives"
                        )
                # frontier-expired runs may unblock held leftmost
                # completions (the earlier-listed branch died of its
                # within deadline)
                if alt_helds.get(kt):
                    for ai, match in resolve_alternation_helds(
                        nfas, nfa_states[kt], after, alt_helds[kt],
                        final=False,
                    ):
                        emit(kt, match, MATCH_TAG, ai)
                idle = not alt_helds.get(kt) and not any(
                    st.runs for _, st in pairs
                )
            else:
                nst = nfa_states[kt]
                pairs = ((nfa, nst),)
                wm_matches, wm_timeouts = nfa.advance_time(nst, adv)
                for x in wm_matches:
                    emit(kt, x, MATCH_TAG)
                for x in wm_timeouts:
                    emit(kt, x, TIMEOUT_TAG)
                # helds ⊆ starts with live runs (advance_time resolves
                # them the moment the last run dies), so the second
                # test is belt-and-braces against losing a held match
                idle = not nst.runs and not nst.helds
            if idle:
                if kt not in buffered_keys:
                    del nfa_states[kt]
                    alt_helds.pop(kt, None)
            else:
                for nf, st in pairs:
                    if nf.within_us is not None:
                        pending.extend(
                            run.start_ts + nf.within_us for run in st.runs
                        )

        if reorder_starts:
            # release the reorder hold: per key, emit (and number)
            # buffered matches in start order up to the first start
            # that is still undecided — a live run or a held
            # completion starting earlier could still produce the
            # preceding match
            for kt in list(pending_out):
                sts = nfa_states.get(kt)
                sts = () if sts is None else sts if alt else (sts,)
                cands = [r.start_ord for st in sts for r in st.runs]
                for st in sts:
                    cands.extend(st.helds)
                cands.extend(alt_helds.get(kt) or ())
                undecided = min(cands, default=None)
                pend = pending_out[kt]
                for s in sorted(pend):
                    # alternation: a same-start live run can only
                    # complete at a LATER end, which sorts after every
                    # pending entry — only a strictly-earlier start blocks
                    if undecided is not None and (
                        s[0] > undecided if alt else s >= undecided
                    ):
                        break
                    _emit_now(kt, pend.pop(s), MATCH_TAG)
                if not pend:
                    del pending_out[kt]

        # keep state alive while match_nos is non-empty even if no runs
        # remain: dropping it would restart MATCH_NUMBER at 1 after a
        # quiescent period, diverging from batch numbering
        if (
            buffer is None
            and not nfa_states
            and not match_nos
            and not pending_out
            and (nav_tails is None or not len(nav_tails))
        ):
            state.remove()
        else:
            # nav specs store the PREV tail frame (O(max_prev) rows per
            # key ever fed — the same per-key-forever growth class as
            # match_nos; Flink keyed state without TTL likewise)
            fields = {
                "buffer": buffer,
                "states": nfa_states,
                "helds": {k: h for k, h in alt_helds.items() if h},
                "match_nos": match_nos,
                "nav_tails": nav_tails,
                "pending_out": pending_out,
            }
            state.update(
                (
                    pickle.dumps(
                        tuple(fields[f] for f in state_fields[:n_stored])
                    ),
                )
            )
            if buffer is not None:
                pending.append(int(buffer[_TS_COL].min()))
            if pending:
                # Spark fires timeout T once the watermark passes T ms,
                # so this fires once the watermark reaches the earliest
                # pending instant
                state.setTimeoutTimestamp(
                    max((min(pending) - 1) // 1000, wm_ms, 1)
                )
        if data[out_names[0]]:
            for k, dtype in float_keys.items():
                data[k] = _float_key_array(data[k], dtype)
            yield pd.DataFrame(data, columns=out_names)

    return prepared.groupBy(_BUCKET_COL).applyInPandasWithState(
        process,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
