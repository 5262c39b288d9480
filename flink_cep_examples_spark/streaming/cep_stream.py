"""Streaming CEP operator (Structured Streaming).

The same NFA core as batch, run under
``groupBy(key).applyInPandasWithState(...)`` with event-time timeouts —
the Spark-idiomatic equivalent of Flink's CepOperator on a keyed stream
(CEP.pattern(keyedStream, pattern), FlinkCEPExample.scala:76):

- **watermark**: ``withWatermark(order_col, delay)`` reproduces the
  reference's bounded-out-of-orderness assigner
  (``currentMaxTimestamp - maxOutOfOrderness``,
  FlinkCEPExample.scala:27-42) — same model, computed per micro-batch.
- **buffer-and-sort-on-watermark**: Flink's CepOperator buffers events
  per key and advances the NFA in event-time order as the watermark
  passes them; here that buffer lives in the group state, and each
  invocation releases buffered rows ≤ watermark, sorted by
  (event-time, tiebreak), into the NFA (SURVEY §1.5 "load-bearing").
  Rows older than the watermark at arrival are dropped (Flink CEP
  drops late events the same way; documented).
- **within / absence timeouts**: the state's event-time timeout is set
  to the earliest pending obligation — a partial's deadline or a
  buffered row's release time — so a key with no new data still emits
  its absence alert when the watermark passes the deadline
  (TimedOutPartialMatchHandler,
  FlinkCEPAbsenceOfEventExample.scala:79,93-103). Spark's no-data
  micro-batches (on by default) advance the watermark to fire these.
- **side outputs**: match + timeout rows share one schema with a
  ``tag`` column (no OutputTag in Structured Streaming; SURVEY §2.3).

State per key = (event buffer beyond the watermark) + (open partial
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

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from flink_cep_examples_spark.operators.cep_batch import output_schema
from flink_cep_examples_spark.operators.nfa import (
    Nfa,
    NfaState,
    coordinate_alternation_row,
    resolve_alternation_helds,
)
from flink_cep_examples_spark.plans.pattern import (
    AGG_FNS,
    PatternSpec,
    SKIP_PAST_LAST_EVENT,
)
from flink_cep_examples_spark.schemas import MATCH_TAG, TIMEOUT_TAG

_PRED_PREFIX = "__cep_p_"
_TS_COL = "__cep_ts_us"
_BUCKET_COL = "__cep_bucket"

#: state: one pickled blob per KEY-BUCKET =
#: dict[key_tuple -> (buffer: list[row tuple], NfaState)]
_STATE_SCHEMA = T.StructType([T.StructField("blob", T.BinaryType(), True)])


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
# watermark-sorted per-key sequence (PREV(x, n): the last n released
# rows per key are kept as a tiny tail state; NEXT(x, n): the last n
# watermark-eligible rows per key are HELD BACK until their successors
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


def _compile_stream_nav(spec: PatternSpec, df_cols: list[str]) -> dict:
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
    key_cols: list[str],
    tiebreak: str,
    buf_cols: list[str],
    nav_specs: list[tuple[str, str, int, str]],
    nav_pred_sql: dict[int, str],
    nav_needed: tuple[str, ...],
    max_prev: int,
    max_next: int,
) -> tuple[pd.DataFrame, pd.DataFrame | None, pd.DataFrame | None, dict, dict]:
    """One micro-batch of streaming PREV/NEXT navigation over the
    (key, order, tiebreak)-sorted release frame.

    - PREV(x, n): lag within [tail rows ‖ release] per key — ``tails``
      holds each key's last ``max_prev`` FED rows, so a lag that
      crosses the micro-batch boundary reads exactly the row the batch
      window would. New arrivals carry ts ≥ current watermark ≥ every
      tail ts (the late-drop rule), so a stable sort with tails first
      reproduces feed order even on exact ties.
    - NEXT(x, n): lead within the eligible sequence. The last
      ``max_next`` eligible rows per key are HELD BACK (returned to
      the buffer): their successor may arrive in a later batch, and no
      future arrival can sort before them, so once ``max_next``
      successors are eligible their lead values are final. On an
      unbounded stream a key's final rows stay pending — the streaming
      "not yet decidable" twin of a row above the watermark (finite
      replays flush with a per-key sentinel, as the agreement tests
      do).
    - Nav predicates evaluate over the fed frame via DuckDB, restricted
      by the _compile_stream_nav token gate to the dialect intersection
      where Spark SQL and DuckDB agree; NULL → FALSE (the NFA prepare
      convention). Row alignment is pinned with an explicit ORDER BY
      on a row-number column.

    Returns ``(fed, buffer, tails, held_min_ts, pred_over)``:
    rows to feed (with nav columns attached), the buffer grown by the
    held-back rows, the rolled-forward tail state, per-key first-held
    timestamps (the NFA clock cap), and predicate-index → bool array
    overrides aligned to ``fed``.
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
            [*key_cols, _TS_COL, tiebreak], kind="mergesort"
        )
    else:
        work = release.copy()
        work[mark] = False
    g = work.groupby(key_cols, sort=False)
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
                .groupby([work[k] for k in key_cols], sort=False)
                .shift(off if kind == "prev" else -off)
            )
        else:
            shifted = g[src].shift(off if kind == "prev" else -off)
        work[alias] = shifted
        aliases.append(alias)
    cand = work[~work[mark].to_numpy(dtype=bool)]

    held_min_ts: dict[tuple, int] = {}
    if max_next and len(cand):
        rev = cand.groupby(key_cols, sort=False).cumcount(ascending=False)
        hmask = (rev < max_next).to_numpy()
        fed = cand[~hmask]
        held = cand[hmask]
        if len(held):
            hmin = held.groupby(key_cols, sort=False)[_TS_COL].min()
            for k, v in hmin.items():
                held_min_ts[k if isinstance(k, tuple) else (k,)] = int(v)
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
        rev = pool.groupby(key_cols, sort=False).cumcount(ascending=False)
        tails = pool[(rev < max_prev).to_numpy()].reset_index(drop=True)

    return fed[buf_cols + aliases], buffer, tails, held_min_ts, pred_over


def _prepare_stream(
    df: DataFrame,
    spec: PatternSpec,
    extra_cols: tuple[str, ...] = (),
    skip_pred_idx: frozenset[int] = frozenset(),
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
    return df.select(*cols)


def match_pattern_stream(
    df: DataFrame,
    spec: PatternSpec,
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
    spec.validate()
    unsupported = {
        m.fn
        for m in spec.measures
        if m.fn
        not in ("first", "last", "count", "classifier", "match_number")
        + AGG_FNS
    }
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
            f"streaming measures support first/last/count/classifier/"
            f"match_number/{'/'.join(AGG_FNS)}, got {sorted(unsupported)}"
        )
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
    # batch renumbers longest-derivation matches by (start, end)
    # ordinal. Under SKIP PAST LAST (round 12) matches are DISJOINT
    # and holds resolve sequentially by start, so streaming emission
    # order IS start order and a per-key counter reproduces the batch
    # numbering directly. With overlapping matches (NO_SKIP / SKIP TO
    # NEXT) held resolution can in principle emit a LATER start first
    # (a later start's run dying while the earlier still extends) —
    # round 13 closes the former loud reject with a per-key
    # START-ORDER REORDER HOLD: completed matches are buffered by
    # start ordinal and released (numbered) only once no live run or
    # held completion with an earlier start remains. Under longest
    # each start yields at most one match, so start order ≡ batch's
    # (start, end) order. Note strict contiguity makes concurrent
    # runs re-synchronize at iteration boundaries (they consume the
    # same rows and usually die on the same break row), so the hold
    # often releases immediately — the point is that emission order
    # is now correct BY CONSTRUCTION instead of by that structural
    # argument, for every expressible grammar.
    reorder_starts = (
        spec.derivation == "longest"
        and spec.after_match != SKIP_PAST_LAST_EVENT
        and (
            spec.rows_per_match == "all"
            or any(m.fn == "match_number" for m in spec.measures)
        )
    )
    all_rows = spec.rows_per_match == "all"
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
        # every output row carries match_seq; under longest with
        # overlapping strategies the start-order reorder hold above
        # supplies batch's (start, end) numbering
        # RUNNING measures compute at emission from the captured
        # rows (round 11) — an incremental walk per match, the batch
        # _running_series semantics
    if all_rows:
        from flink_cep_examples_spark.operators.cep_batch import (
            all_rows_output_schema,
        )

        out_schema = all_rows_output_schema(df, spec)
    else:
        out_schema = output_schema(df, spec)
    if n_buckets is None:
        try:
            n_buckets = 4 * int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except (TypeError, ValueError):  # e.g. "auto"
            n_buckets = 4 * df.sparkSession.sparkContext.defaultParallelism
    prepared = (
        _prepare_stream(
            df,
            spec,
            extra_cols=(tuple(df.columns) if all_rows else ())
            + (nav_conf["needed"] if nav_conf is not None else ()),
            skip_pred_idx=frozenset(
                nav_conf["pred_idx"] if nav_conf is not None else ()
            ),
        )
        .withColumn(
            _BUCKET_COL,
            F.pmod(F.xxhash64(*spec.key_cols), F.lit(n_buckets)).cast("int"),
        )
        .withWatermark(spec.order_col, watermark_delay)
    )

    data_cols = list(df.columns)
    n_vars = len(spec.pred_exprs)
    key_cols = list(spec.key_cols)
    measures = list(spec.measures)
    tiebreak = spec.tiebreak_col
    subset_map = dict(spec.subsets)

    def _components(mvar: str) -> tuple[str, ...]:
        return subset_map.get(mvar, (mvar,))

    # per-variable tuple of srcs that variable must remember — a
    # measure over a SUBSET union attaches its src to every component
    var_srcs: dict[str, list[str]] = {
        v.name: sorted(
            {
                m.src
                for m in measures
                if v.name in _components(m.var) and m.fn != "count"
            }
        )
        for v in spec.variables
    }
    all_srcs = sorted({s for srcs in var_srcs.values() for s in srcs})
    if all_rows:
        # every input column is output, so payloads carry them all
        # (measure srcs are a subset — nav_cols are rejected above)
        all_srcs = sorted(set(data_cols) | set(all_srcs))
    pred_cols = [f"{_PRED_PREFIX}{i}" for i in range(n_vars)]
    out_names = [f.name for f in out_schema.fields]
    excluded_vars = {v.name for v in spec.variables if v.excluded}
    payload_idx = {c: i for i, c in enumerate(all_srcs)}

    # one compiled NFA shared by every bucket group on the worker (it is
    # key-stateless: per-key state lives in NfaState).
    nfa = Nfa(spec)
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
    if all_rows:
        # ALL ROWS (round 11): the fold captures every consumed row —
        # (payload..., release ordinal) — so emission expands a match
        # to its rows; aggregates then compute from the captured rows
        # directly (no separate accumulator needed). Round 12: shared
        # append-only log, O(1) amortized per row (_cap_fold).
        nfa.enable_payload_fold(_cap_init, _cap_fold)
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

        nfa.enable_payload_fold(
            lambda payload, _o: tuple(_acc1(payload[j]) for j in agg_pos),
            lambda acc, payload, _o: tuple(
                _fold1(a, payload[j]) for a, j in zip(acc, agg_pos)
            ),
        )
    # columns the buffer must retain (stable order, no duplicates)
    buf_cols = list(
        dict.fromkeys(
            [*key_cols, _TS_COL, tiebreak, *pred_cols, *all_srcs]
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

    def process(
        bucket: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm_us = state.getCurrentWatermarkMs() * 1000
        # bucket state = (columnar event buffer as a pandas DataFrame —
        # pickles as a handful of numpy blocks, ~6× smaller and ~100×
        # fewer objects than per-row tuples — and the per-key NFA states)
        nav_tails = None  # per-key PREV tail rows (nav specs only)
        pending_out: dict = {}  # per-key start-ordered reorder hold
        if state.exists:
            stored = pickle.loads(state.get[0])
            if len(stored) == 2:  # pre-round-5 checkpoint: no counters
                buffer, nfa_states = stored
                match_nos: dict = {}
            elif len(stored) == 3:
                buffer, nfa_states, match_nos = stored
            elif len(stored) == 4:  # round 13: nav PREV tail frame
                buffer, nfa_states, match_nos, nav_tails = stored
            else:  # round 13: longest-overlap reorder hold
                (
                    buffer,
                    nfa_states,
                    match_nos,
                    nav_tails,
                    pending_out,
                ) = stored
        else:
            buffer, nfa_states, match_nos = None, {}, {}
        track_match_no = any(m.fn == "match_number" for m in measures)

        frames = [] if buffer is None else [buffer]
        if not state.hasTimedOut:
            for pdf in pdfs:
                if len(pdf):
                    # late beyond watermark: dropped (as Flink CEP);
                    # vectorized — ingest touches no Python rows
                    live = pdf[pdf[_TS_COL].to_numpy() >= wm_us]
                    if len(live):
                        frames.append(live[buf_cols])
        allbuf = (
            frames[0]
            if len(frames) == 1
            else pd.concat(frames, ignore_index=True)
            if frames
            else None
        )

        # one output accumulator for the whole bucket
        data: dict[str, list] = {c: [] for c in out_names}

        def _measure_values(match: dict, mn) -> dict:
            """FINAL measure values for one match (ALL ROWS emission:
            computed once, repeated on every expanded row). Aggregates
            evaluate over the captured rows of the component spans —
            the var's ACTUAL rows, NULL/NaN skipped (SQL)."""
            out: dict = {}
            for m in measures:
                if m.fn == "match_number":
                    out[m.name] = mn
                    continue
                if m.fn == "classifier":
                    out[m.name] = (
                        max(match.items(), key=lambda kv_: kv_[1][4])[0]
                        if match
                        else None
                    )
                    continue
                spans = sorted(
                    (
                        match[c]
                        for c in _components(m.var)
                        if match.get(c)
                    ),
                    key=lambda sp: sp[3],
                )
                if not spans:
                    out[m.name] = (
                        0 if m.fn in ("count", "count_col") else m.default
                    )
                elif m.fn == "count":
                    out[m.name] = sum(sp[2] for sp in spans)
                elif m.fn in AGG_FNS:
                    j = payload_idx[m.src]
                    vals = [
                        v
                        for sp in spans
                        for p in _cap_rows(sp[5])
                        if (v := p[j]) is not None and v == v
                    ]
                    if m.fn == "count_col":
                        out[m.name] = len(vals)
                    elif not vals:
                        out[m.name] = None  # SQL: all-NULL rows
                    elif m.fn == "sum":
                        out[m.name] = _dec2f(sum(vals))
                    elif m.fn == "avg":
                        out[m.name] = _dec2f(sum(vals) / len(vals))
                    elif m.fn == "min":
                        out[m.name] = min(vals)
                    else:
                        out[m.name] = max(vals)
                elif m.fn == "first":
                    out[m.name] = spans[0][0][payload_idx[m.src]]
                else:  # last: max by LAST ordinal
                    payload = max(spans, key=lambda sp: sp[4])[1]
                    out[m.name] = payload[payload_idx[m.src]]
            return out

        running_ms = [
            m
            for m in measures
            if m.running and m.fn not in ("classifier", "match_number")
        ]

        def emit_all_rows(key: tuple, match: dict, tag: str) -> None:
            if tag != MATCH_TAG:  # no timeout channel under ALL ROWS
                raise AssertionError("timeout emission under ALL ROWS")
            mn = match_nos[key] = match_nos.get(key, 0) + 1
            mvals = _measure_values(match, mn)
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
                for c in data_cols:
                    data[c].append(p[payload_idx[c]])
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
            if all_rows:
                emit_all_rows(key, match, tag)
                return
            if track_match_no and tag == MATCH_TAG:
                mn = match_nos[key] = match_nos.get(key, 0) + 1
            else:
                mn = None  # timeout rows carry NULL, as in batch
            for k, kv in zip(key_cols, key):
                data[k].append(kv)
            for m in measures:
                if m.fn == "match_number":
                    data[m.name].append(mn)
                    continue
                if m.fn == "classifier":
                    # variable that consumed the match's LAST row: the
                    # span with the largest per-key row ordinal
                    data[m.name].append(
                        max(match.items(), key=lambda kv_: kv_[1][4])[0]
                        if match
                        else None
                    )
                    continue
                # SUBSET unions (round 11): ordered component spans
                # merge — FIRST from the earliest, LAST from the span
                # with the largest LAST ordinal (the batch
                # _make_measure_eval rule), COUNT summed, aggregate
                # accumulators combined
                spans = sorted(
                    (
                        match[c]
                        for c in _components(m.var)
                        if match.get(c)
                    ),
                    key=lambda sp: sp[3],
                )
                if not spans:
                    data[m.name].append(
                        0 if m.fn in ("count", "count_col") else m.default
                    )
                elif m.fn == "count":
                    data[m.name].append(sum(sp[2] for sp in spans))
                elif m.fn in AGG_FNS:
                    # each span's folded accumulator (6th field); a
                    # 5-field span can only come from a checkpoint
                    # written without aggregates — the registered
                    # state schema is a fixed binary blob, so Spark
                    # CANNOT reject such a restart itself: fail loud
                    # naming the cause instead of an opaque IndexError
                    s = n = 0
                    mn = mx = None
                    for sp in spans:
                        if len(sp) < 6:
                            raise RuntimeError(
                                "restored span has no aggregate "
                                "accumulator: this checkpoint was "
                                "written by a query without aggregate "
                                "measures; restart from a fresh "
                                "checkpoint directory"
                            )
                        s1, n1, mn1, mx1 = sp[5][agg_slot[m.name]]
                        s, n = s + s1, n + n1
                        if mn1 is not None and (mn is None or mn1 < mn):
                            mn = mn1
                        if mx1 is not None and (mx is None or mx1 > mx):
                            mx = mx1
                    if m.fn == "count_col":
                        data[m.name].append(n)
                    elif n == 0:
                        data[m.name].append(None)  # SQL: all-NULL rows
                    elif m.fn == "sum":
                        data[m.name].append(_dec2f(s))
                    elif m.fn == "avg":
                        data[m.name].append(_dec2f(s / n))
                    elif m.fn == "min":
                        data[m.name].append(mn)
                    else:
                        data[m.name].append(mx)
                elif m.fn == "first":
                    data[m.name].append(
                        spans[0][0][all_srcs.index(m.src)]
                    )
                else:  # last: max by LAST ordinal, not last-sorted
                    payload = max(spans, key=lambda sp: sp[4])[1]
                    data[m.name].append(payload[all_srcs.index(m.src)])
            data["tag"].append(tag)

        def emit(key: tuple, match: dict, tag: str) -> None:
            if reorder_starts and tag == MATCH_TAG:
                # longest-overlap reorder hold: buffer by start
                # ordinal; released (and numbered) in start order once
                # no earlier start is still undecided. Timeout rows
                # carry no number and emit immediately.
                start = min(
                    sp[3] for sp in match.values() if sp is not None
                )
                pending_out.setdefault(key, {})[start] = match
                return
            _emit_now(key, match, tag)

        buffer = None
        buffered_keys: set = set()
        held_min_ts: dict[tuple, int] = {}
        if allbuf is not None and len(allbuf):
            rel_mask = allbuf[_TS_COL].to_numpy() <= wm_us
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
                    [*key_cols, _TS_COL, tiebreak], kind="mergesort"
                )
                pred_over: dict[int, Any] = {}
                if nav_conf is not None:
                    (
                        release,
                        buffer,
                        nav_tails,
                        held_min_ts,
                        pred_over,
                    ) = _nav_transform(
                        release,
                        buffer,
                        nav_tails,
                        key_cols,
                        tiebreak,
                        buf_cols,
                        nav_specs,
                        nav_pred_sql,
                        nav_conf["needed"],
                        nav_conf["max_prev"],
                        nav_conf["max_next"],
                    )
                key_arrs = [release[k].to_numpy() for k in key_cols]
                ts_arr = release[_TS_COL].to_numpy()
                pred_arr = release[pred_cols].to_numpy(dtype=bool)
                for pi, pv in pred_over.items():
                    pred_arr[:, pi] = pv
                src_arr = release[all_srcs].to_numpy() if all_srcs else None
                # rows that can't start a run and have no run to extend
                # are no-ops — skip the step() call entirely
                can_begin = (
                    pred_arr[:, nfa.begin_preds[0]]
                    if len(nfa.begin_preds) == 1
                    else pred_arr[:, list(nfa.begin_preds)].any(axis=1)
                )
                kt: tuple | None = None
                nst = None
                single = key_arrs[0] if len(key_arrs) == 1 else None
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
            if len(key_cols) == 1:
                buffered_keys = {(k,) for k in buffer[key_cols[0]]}
            else:
                buffered_keys = set(zip(*(buffer[k] for k in key_cols)))

        # the watermark itself may expire partials (absence alerts) or
        # confirm pending timed-absence completions (matches). A key
        # with held-back rows (streaming NEXT holdback) advances only
        # to the first held row's timestamp: those rows are ≤ watermark
        # and must be fed before any within-deadline beyond them fires
        # (feeding a row at t advances the clock to t first, so the cap
        # is exactly feed-equivalent).
        pending: list[int] = []
        for kt in list(nfa_states):
            nst = nfa_states[kt]
            wm_matches, wm_timeouts = nfa.advance_time(
                nst, min(wm_us, held_min_ts.get(kt, wm_us))
            )
            for x in wm_matches:
                emit(kt, x, MATCH_TAG)
            for x in wm_timeouts:
                emit(kt, x, TIMEOUT_TAG)
            if not nst.runs and not nst.helds:
                # helds ⊆ starts with live runs (advance_time resolves
                # them the moment the last run dies), so the second
                # test is belt-and-braces against losing a held match
                if kt not in buffered_keys:
                    del nfa_states[kt]
            elif nfa.within_us is not None:
                pending.extend(
                    run.start_ts + nfa.within_us for run in nst.runs
                )

        if reorder_starts:
            # release the reorder hold: per key, emit (and number)
            # buffered matches in start order up to the first start
            # that is still undecided — a live run or a held
            # completion starting earlier could still produce the
            # preceding match
            for kt in list(pending_out):
                nst = nfa_states.get(kt)
                undecided = None
                if nst is not None:
                    cands = [r.start_ord for r in nst.runs]
                    cands.extend(nst.helds)
                    if cands:
                        undecided = min(cands)
                pend = pending_out[kt]
                for s in sorted(pend):
                    if undecided is not None and s >= undecided:
                        break
                    _emit_now(kt, pend.pop(s), MATCH_TAG)
                if not pend:
                    del pending_out[kt]

        if (
            buffer is None
            and not nfa_states
            and not match_nos
            and not pending_out
            and (nav_tails is None or not len(nav_tails))
        ):
            state.remove()
        else:
            if reorder_starts:
                # the reorder hold appends a 5th element; nav_tails
                # rides along (None when the spec has no nav)
                blob = pickle.dumps(
                    (buffer, nfa_states, match_nos, nav_tails,
                     pending_out)
                )
            elif nav_conf is not None:
                # nav specs append the PREV tail frame (O(max_prev)
                # rows per key ever fed — the same per-key-forever
                # growth class as match_nos; Flink keyed state without
                # TTL likewise)
                blob = pickle.dumps(
                    (buffer, nfa_states, match_nos, nav_tails)
                )
            else:
                blob = pickle.dumps((buffer, nfa_states, match_nos))
            state.update((blob,))
            if buffer is not None:
                pending.append(int(buffer[_TS_COL].min()))
            if pending:
                state.setTimeoutTimestamp(
                    max(
                        min(pending) // 1000,
                        state.getCurrentWatermarkMs() + 1,
                    )
                )
        if data["match_seq" if all_rows else "tag"]:
            yield pd.DataFrame(data, columns=out_names)

    return prepared.groupBy(_BUCKET_COL).applyInPandasWithState(
        process,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def match_pattern_stream_alternation(
    df: DataFrame,
    aspec,
    watermark_delay: str = "6 minutes",
    n_buckets: int | None = None,
) -> DataFrame:
    """Streaming top-level PATTERN alternation: one NfaState PER
    ALTERNATIVE per key rides the bucketed state store, rows released
    in event-time order feed every alternative in lockstep, and
    emission runs the same union skip discipline as batch
    (operators/nfa.py::coordinate_alternation_row — the shared core,
    so the two tiers cannot drift). Output: append-mode stream with
    keys + measures (no tag — alternation has no timeout channel).

    Same scale design as :func:`match_pattern_stream` (hash-bucketed
    state, columnar buffers); per-row cost is the sum of the
    alternatives' live branches, exactly as in batch."""
    from flink_cep_examples_spark.plans.pattern import AlternationSpec

    if not isinstance(aspec, AlternationSpec):
        raise TypeError(
            f"match_alternation_stream needs an AlternationSpec, got "
            f"{type(aspec).__name__}"
        )
    aspec.validate()
    alt_all_rows = aspec.alternatives[0].rows_per_match == "all"
    # Numbering vs batch (round 13): batch sorts alternation matches
    # by (start, end, alternative) before numbering. Under SKIP PAST
    # LAST matches are disjoint and resolution is sequential by start,
    # so the streaming per-key counter agrees directly. With
    # overlapping strategies (NO_SKIP / SKIP TO NEXT) a later start
    # can COMPLETE first — concretely: alternatives of different
    # lengths, e.g. (A C | A D{3}), start s completing via the 4-row
    # branch AFTER start s+1 completed via the 2-row one (this
    # silently mis-numbered the previously-allowed eager path; the
    # round-13 probe pinned it) — and leftmost held-resolution can
    # likewise emit out of start order. The START-ORDER REORDER HOLD
    # below fixes all of these: completed matches buffer by start
    # ordinal and release only when no alternative has a live run or
    # held completion with an earlier start (the coordinator decides
    # each start exactly once, so start order ≡ batch's
    # (start, end, alternative) order). The former ALL-ROWS and
    # leftmost-MATCH_NUMBER rejects are closed by the same hold.
    alt_reorder = aspec.after_match != SKIP_PAST_LAST_EVENT and (
        alt_all_rows
        or any(m.fn == "match_number" for m in aspec.measures)
    )
    allowed = {
        "first", "last", "count", "classifier", "match_number", *AGG_FNS
    }
    unsupported = {m.fn for m in aspec.measures if m.fn not in allowed}
    if unsupported:
        raise NotImplementedError(
            f"streaming alternation measures support {sorted(allowed)}, "
            f"got {sorted(unsupported)}"
        )
    # PREV/NEXT navigation (round 13): the same in-operator nav columns
    # + token-gated DuckDB predicate evaluation as the single-pattern
    # tier (_nav_transform); the holdback clock cap applies to EVERY
    # alternative's advance (lockstep is preserved — advance_time never
    # touches row ordinals)
    nav_conf = (
        _compile_stream_nav(aspec, df.columns) if aspec.nav_cols else None
    )
    if nav_conf is not None:
        try:
            import duckdb  # noqa: F401
        except ImportError as ex:  # pragma: no cover — baked into env
            raise NotImplementedError(
                "streaming PREV()/NEXT() evaluates nav predicates "
                "in-operator via duckdb, which is not importable: "
                f"{ex}; use the batch operator inside foreachBatch"
            ) from ex
    alts = aspec.alternatives
    from flink_cep_examples_spark.operators.cep_batch import (
        all_rows_output_schema as _batch_all_rows_schema,
    )
    from flink_cep_examples_spark.operators.cep_batch import (
        output_schema as _batch_output_schema,
    )

    if alt_all_rows:
        out_schema = _batch_all_rows_schema(df, aspec)
    else:
        out_schema = T.StructType(
            _batch_output_schema(df, aspec).fields[:-1]
        )
    if n_buckets is None:
        try:
            n_buckets = 4 * int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except (TypeError, ValueError):
            n_buckets = 4 * df.sparkSession.sparkContext.defaultParallelism
    prepared = (
        _prepare_stream(
            df,
            aspec,
            extra_cols=(tuple(df.columns) if alt_all_rows else ())
            + (nav_conf["needed"] if nav_conf is not None else ()),
            skip_pred_idx=frozenset(
                nav_conf["pred_idx"] if nav_conf is not None else ()
            ),
        )
        .withColumn(
            _BUCKET_COL,
            F.pmod(F.xxhash64(*aspec.key_cols), F.lit(n_buckets)).cast("int"),
        )
        .withWatermark(aspec.order_col, watermark_delay)
    )

    offsets = []
    pos = 0
    for alt in alts:
        offsets.append((pos, len(alt.pred_exprs)))
        pos += len(alt.pred_exprs)
    n_vars = pos
    key_cols = list(aspec.key_cols)
    measures = list(aspec.measures)
    after = aspec.after_match
    tiebreak = aspec.tiebreak_col
    all_srcs = sorted(
        {
            m.src
            for m in measures
            if m.fn not in ("count", "classifier", "match_number")
        }
    )
    data_cols = list(df.columns)
    if alt_all_rows:
        # every input column is output, so payloads carry them all
        all_srcs = sorted(set(data_cols) | set(all_srcs))
    pred_cols = [f"{_PRED_PREFIX}{i}" for i in range(n_vars)]
    out_names = [f.name for f in out_schema.fields]
    payload_idx = {c: i for i, c in enumerate(all_srcs)}
    excluded_vars = {
        v.name for alt in alts for v in alt.variables if v.excluded
    }

    nfas = [Nfa(alt) for alt in alts]
    # aggregate MEASURES (round 11): the same incremental span fold as
    # the single-pattern tier, enabled on EVERY alternative's NFA (the
    # payload tuple is shared, all_srcs order); emission merges the
    # component spans' accumulators (SUBSET-union semantics)
    agg_srcs = sorted({m.src for m in measures if m.fn in AGG_FNS})
    agg_slot = {
        m.name: agg_srcs.index(m.src)
        for m in measures
        if m.fn in AGG_FNS
    }
    if agg_srcs:
        agg_pos = [all_srcs.index(s) for s in agg_srcs]

        def _acc1(v):
            if v is None or v != v:
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

        def _init(payload, _ord):
            return tuple(_acc1(payload[j]) for j in agg_pos)

        def _fold(acc, payload, _ord):
            return tuple(
                _fold1(a, payload[j]) for a, j in zip(acc, agg_pos)
            )

        if not alt_all_rows:
            for nf in nfas:
                nf.enable_payload_fold(_init, _fold)
    if alt_all_rows:
        # ALL ROWS (round 11): capture every consumed row with the
        # NFA ordinal; aggregates compute from the captured rows.
        # Round 12: shared append-only log, O(1) amortized per row.
        for nf in nfas:
            nf.enable_payload_fold(_cap_init, _cap_fold)
    subset_map = dict(aspec.subsets)
    has_mn = any(m.fn == "match_number" for m in aspec.measures)
    derivation = aspec.derivation
    begin_pred_cols = [
        tuple(s + bp for bp in nf.begin_preds)
        for (s, _), nf in zip(offsets, nfas)
    ]
    buf_cols = list(
        dict.fromkeys(
            [*key_cols, _TS_COL, tiebreak, *pred_cols, *all_srcs]
            + (list(nav_conf["needed"]) if nav_conf is not None else [])
        )
    )
    nav_specs = list(aspec.nav_cols)
    nav_pred_sql = (
        {
            i: f"coalesce(({aspec.pred_exprs[i]}), false) AS p{i}"
            for i in sorted(nav_conf["pred_idx"])
        }
        if nav_conf is not None
        else {}
    )

    def process(
        bucket: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm_us = state.getCurrentWatermarkMs() * 1000
        nav_tails = None  # per-key PREV tail rows (nav specs only)
        pending_out: dict = {}  # per-key start-ordered reorder hold
        if state.exists:
            stored = pickle.loads(state.get[0])
            if len(stored) == 2:  # pre-leftmost checkpoint shape
                buffer, alt_states = stored
                alt_helds: dict = {}
                match_nos: dict = {}
            elif len(stored) == 3:  # pre-match-number checkpoint shape
                buffer, alt_states, alt_helds = stored
                match_nos = {}
            elif len(stored) == 4:
                buffer, alt_states, alt_helds, match_nos = stored
            elif len(stored) == 5:  # round 13: nav PREV tail frame
                buffer, alt_states, alt_helds, match_nos, nav_tails = stored
            else:  # round 13: longest/leftmost-overlap reorder hold
                (
                    buffer,
                    alt_states,
                    alt_helds,
                    match_nos,
                    nav_tails,
                    pending_out,
                ) = stored
        else:
            buffer, alt_states, alt_helds, match_nos = None, {}, {}, {}

        frames = [] if buffer is None else [buffer]
        if not state.hasTimedOut:
            for pdf in pdfs:
                if len(pdf):
                    live = pdf[pdf[_TS_COL].to_numpy() >= wm_us]
                    if len(live):
                        frames.append(live[buf_cols])
        allbuf = (
            frames[0]
            if len(frames) == 1
            else pd.concat(frames, ignore_index=True)
            if frames
            else None
        )

        data: dict[str, list] = {c: [] for c in out_names}

        def _alt_measure_values(match: dict, mn) -> dict:
            """FINAL measure values for one ALL ROWS match —
            SUBSET-union component merge over the captured rows."""
            out: dict = {}
            for m in measures:
                if m.fn == "match_number":
                    out[m.name] = mn
                    continue
                if m.fn == "classifier":
                    out[m.name] = (
                        max(match.items(), key=lambda kv_: kv_[1][4])[0]
                        if match
                        else None
                    )
                    continue
                spans = sorted(
                    (
                        match[c]
                        for c in subset_map.get(m.var, (m.var,))
                        if match.get(c)
                    ),
                    key=lambda sp: sp[3],
                )
                if not spans:
                    out[m.name] = (
                        0 if m.fn in ("count", "count_col") else m.default
                    )
                elif m.fn == "count":
                    out[m.name] = sum(sp[2] for sp in spans)
                elif m.fn in AGG_FNS:
                    j = payload_idx[m.src]
                    vals = [
                        v
                        for sp in spans
                        for p in _cap_rows(sp[5])
                        if (v := p[j]) is not None and v == v
                    ]
                    if m.fn == "count_col":
                        out[m.name] = len(vals)
                    elif not vals:
                        out[m.name] = None
                    elif m.fn == "sum":
                        out[m.name] = _dec2f(sum(vals))
                    elif m.fn == "avg":
                        out[m.name] = _dec2f(sum(vals) / len(vals))
                    elif m.fn == "min":
                        out[m.name] = min(vals)
                    else:
                        out[m.name] = max(vals)
                elif m.fn == "first":
                    out[m.name] = spans[0][0][payload_idx[m.src]]
                else:  # last: max by LAST ordinal
                    payload = max(spans, key=lambda sp: sp[4])[1]
                    out[m.name] = payload[payload_idx[m.src]]
            return out

        running_ms = [
            m
            for m in measures
            if m.running and m.fn not in ("classifier", "match_number")
        ]

        def emit_all_rows(key: tuple, match: dict) -> None:
            mn = match_nos[key] = match_nos.get(key, 0) + 1
            mvals = _alt_measure_values(match, mn)
            entries = [
                (p[-1], vname, p)  # (NFA ordinal, classifier, row)
                for vname, sp in match.items()
                for p in _cap_rows(sp[5])
            ]
            entries.sort(key=lambda e: e[0])
            # RUNNING measures (round 12, ADVICE r11 high): the same
            # incremental clipped-prefix walk the single-pattern tier
            # runs (emit_all_rows at match_pattern_stream) — previously
            # this path silently emitted FINAL values for RUNNING
            # SUM/COUNT/etc. Batch semantics: count counts rows,
            # NULL/NaN skip aggregation, FIRST/LAST keep the row's
            # value null or not, empty prefix → NULL; excluded-var
            # rows advance the state but emit nothing.
            run_rows: dict[str, list] = {}
            run_st: dict[str, list] = {}
            for m in running_ms:
                j = payload_idx.get(m.src)
                rows_m = sorted(
                    (
                        (p[-1], None if j is None else p[j])
                        for c in subset_map.get(m.var, (m.var,))
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
                for c in data_cols:
                    data[c].append(p[payload_idx[c]])
                data["classifier"].append(vname)
                data["match_seq"].append(mn - 1)  # 0-based, as batch
                for m in measures:
                    if m.name in row_runs:
                        data[m.name].append(row_runs[m.name])
                    elif m.running and m.fn == "classifier":
                        data[m.name].append(vname)
                    else:
                        data[m.name].append(mvals[m.name])

        def _emit_now(key: tuple, match: dict) -> None:
            if alt_all_rows:
                emit_all_rows(key, match)
                return
            for k, kv in zip(key_cols, key):
                data[k].append(kv)
            if has_mn:
                match_nos[key] = match_nos.get(key, 0) + 1
            for m in measures:
                if m.fn == "match_number":
                    data[m.name].append(match_nos[key])
                    continue
                if m.fn == "classifier":
                    data[m.name].append(
                        max(match.items(), key=lambda kv_: kv_[1][4])[0]
                        if match
                        else None
                    )
                    continue
                # SUBSET unions (incl. the parser's auto-generated
                # group-copy unions, round 5): ordered component spans
                # merge — FIRST from the earliest, LAST from the
                # latest, COUNT summed (the batch _resolve_spans rule)
                spans = sorted(
                    (
                        match[c]
                        for c in subset_map.get(m.var, (m.var,))
                        if match.get(c)
                    ),
                    key=lambda sp: sp[3],
                )
                if not spans:
                    data[m.name].append(
                        0 if m.fn in ("count", "count_col") else m.default
                    )
                elif m.fn == "count":
                    data[m.name].append(sum(sp[2] for sp in spans))
                elif m.fn in AGG_FNS:
                    # merge the components' folded accumulators; a
                    # 5-field span restores only from a checkpoint
                    # written without aggregates (the state blob
                    # schema never changes, so Spark can't reject the
                    # restart) — fail loud naming the cause
                    s = n = 0
                    mn = mx = None
                    for sp in spans:
                        if len(sp) < 6:
                            raise RuntimeError(
                                "restored span has no aggregate "
                                "accumulator: this checkpoint was "
                                "written by a query without aggregate "
                                "measures; restart from a fresh "
                                "checkpoint directory"
                            )
                        s1, n1, mn1, mx1 = sp[5][agg_slot[m.name]]
                        s, n = s + s1, n + n1
                        if mn1 is not None and (mn is None or mn1 < mn):
                            mn = mn1
                        if mx1 is not None and (mx is None or mx1 > mx):
                            mx = mx1
                    if m.fn == "count_col":
                        data[m.name].append(n)
                    elif n == 0:
                        data[m.name].append(None)  # SQL: all-NULL rows
                    elif m.fn == "sum":
                        data[m.name].append(_dec2f(s))
                    elif m.fn == "avg":
                        data[m.name].append(_dec2f(s / n))
                    elif m.fn == "min":
                        data[m.name].append(mn)
                    else:
                        data[m.name].append(mx)
                else:
                    payload = (
                        spans[0][0] if m.fn == "first" else spans[-1][1]
                    )
                    data[m.name].append(payload[all_srcs.index(m.src)])

        def emit(key: tuple, match: dict, alt_idx: int = 0) -> None:
            if alt_reorder:
                # overlap reorder hold: buffer by batch's exact sort
                # key (start, end, alternative) — NO_SKIP can emit
                # MULTIPLE matches per start (one per alternative
                # length, the round-13 probe's k0 case), so the start
                # alone under-keys. Released in that order once no
                # alternative holds an undecided STRICTLY-EARLIER
                # start (a same-start live run can only complete at a
                # LATER end, which sorts after every pending entry).
                start = min(
                    sp[3] for sp in match.values() if sp is not None
                )
                end = max(
                    sp[4] for sp in match.values() if sp is not None
                )
                pending_out.setdefault(key, {})[
                    (start, end, alt_idx)
                ] = match
                return
            _emit_now(key, match)

        buffer = None
        buffered_keys: set = set()
        held_min_ts: dict[tuple, int] = {}
        if allbuf is not None and len(allbuf):
            rel_mask = allbuf[_TS_COL].to_numpy() <= wm_us
            release = allbuf[rel_mask]
            buffer = allbuf[~rel_mask]
            if len(buffer) == 0:
                buffer = None
            else:
                buffer = buffer.reset_index(drop=True)
            if len(release):
                release = release.sort_values(
                    [*key_cols, _TS_COL, tiebreak], kind="mergesort"
                )
                pred_over: dict[int, Any] = {}
                if nav_conf is not None:
                    (
                        release,
                        buffer,
                        nav_tails,
                        held_min_ts,
                        pred_over,
                    ) = _nav_transform(
                        release,
                        buffer,
                        nav_tails,
                        key_cols,
                        tiebreak,
                        buf_cols,
                        nav_specs,
                        nav_pred_sql,
                        nav_conf["needed"],
                        nav_conf["max_prev"],
                        nav_conf["max_next"],
                    )
                key_arrs = [release[k].to_numpy() for k in key_cols]
                ts_arr = release[_TS_COL].to_numpy()
                pred_arr = release[pred_cols].to_numpy(dtype=bool)
                for pi, pv in pred_over.items():
                    pred_arr[:, pi] = pv
                src_arr = release[all_srcs].to_numpy() if all_srcs else None
                kt: tuple | None = None
                sts = None
                single = key_arrs[0] if len(key_arrs) == 1 else None
                for i in range(len(release)):
                    rkt = (
                        (single[i],)
                        if single is not None
                        else tuple(a[i] for a in key_arrs)
                    )
                    if rkt != kt:
                        kt = rkt
                        sts = alt_states.get(kt)
                        if sts is None:
                            sts = alt_states[kt] = [
                                NfaState() for _ in nfas
                            ]
                    # skip only when EVERY alternative is inert on the
                    # row (ordinals must advance in lockstep)
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
                    payload = tuple(src_arr[i]) if src_arr is not None else ()
                    helds = (
                        alt_helds.setdefault(kt, {})
                        if derivation == "leftmost"
                        else None
                    )
                    for ai, match in coordinate_alternation_row(
                        nfas, sts, int(ts_arr[i]), pred_rows, payload, after,
                        helds=helds,
                    ):
                        emit(kt, match, ai)

        if buffer is not None and len(buffer):
            # computed AFTER the nav transform — held-back rows joined
            # the buffer and must keep their key's states alive
            if len(key_cols) == 1:
                buffered_keys = {(k,) for k in buffer[key_cols[0]]}
            else:
                buffered_keys = set(zip(*(buffer[k] for k in key_cols)))

        # watermark prunes expired partials per alternative (no
        # pendings — alternatives cannot end in absence variables).
        # A key with held-back rows (NEXT holdback) advances only to
        # the first held row's timestamp — in EVERY alternative, so
        # the lockstep stays feed-equivalent.
        pending: list[int] = []
        for kt in list(alt_states):
            sts = alt_states[kt]
            kt_adv = min(wm_us, held_min_ts.get(kt, wm_us))
            for nf, st in zip(nfas, sts):
                wm_matches, _ = nf.advance_time(st, kt_adv)
                if wm_matches:  # survives python -O, unlike assert
                    raise AssertionError(
                        "alternation state yielded pending completions "
                        "at watermark — validator must reject trailing "
                        "absence variables in alternatives"
                    )
            # watermark-expired runs may unblock held leftmost
            # completions (the earlier-listed branch died of its
            # within deadline)
            helds = alt_helds.get(kt)
            if helds:
                for ai, match in resolve_alternation_helds(
                    nfas, sts, after, helds, final=False
                ):
                    emit(kt, match, ai)
            if helds is not None and not helds:
                del alt_helds[kt]
            if not any(st.runs for st in sts) and not alt_helds.get(kt):
                if kt not in buffered_keys:
                    del alt_states[kt]
                    alt_helds.pop(kt, None)
            else:
                for nf, st in zip(nfas, sts):
                    if nf.within_us is not None:
                        pending.extend(
                            run.start_ts + nf.within_us for run in st.runs
                        )

        if alt_reorder:
            # release the reorder hold: per key, emit (and number)
            # buffered matches in start order up to the first start
            # any alternative still holds undecided
            for kt in list(pending_out):
                sts = alt_states.get(kt)
                cands: list[int] = []
                if sts is not None:
                    for st in sts:
                        cands.extend(r.start_ord for r in st.runs)
                cands.extend(alt_helds.get(kt) or ())
                undecided = min(cands) if cands else None
                pend = pending_out[kt]
                for s in sorted(pend):
                    if undecided is not None and s[0] > undecided:
                        break  # a strictly-earlier start is undecided
                    _emit_now(kt, pend.pop(s))
                if not pend:
                    del pending_out[kt]

        # keep state alive while match_nos is non-empty even if no runs
        # remain: dropping it would restart MATCH_NUMBER at 1 after a
        # quiescent period, diverging from batch numbering (the
        # single-pattern operator guards the same case above)
        if (
            buffer is None
            and not alt_states
            and not match_nos
            and not pending_out
            and (nav_tails is None or not len(nav_tails))
        ):
            state.remove()
        else:
            alt_helds = {k: h for k, h in alt_helds.items() if h}
            if alt_reorder:
                # the reorder hold appends a 6th element; nav_tails
                # rides along (None when the spec has no nav)
                blob = pickle.dumps(
                    (buffer, alt_states, alt_helds, match_nos,
                     nav_tails, pending_out)
                )
            elif nav_conf is not None:
                blob = pickle.dumps(
                    (buffer, alt_states, alt_helds, match_nos, nav_tails)
                )
            else:
                blob = pickle.dumps(
                    (buffer, alt_states, alt_helds, match_nos)
                )
            state.update((blob,))
            if buffer is not None:
                pending.append(int(buffer[_TS_COL].min()))
            if pending:
                state.setTimeoutTimestamp(
                    max(
                        min(pending) // 1000,
                        state.getCurrentWatermarkMs() + 1,
                    )
                )
        if any(data[c] for c in out_names):
            yield pd.DataFrame(data, columns=out_names)

    return prepared.groupBy(_BUCKET_COL).applyInPandasWithState(
        process,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
