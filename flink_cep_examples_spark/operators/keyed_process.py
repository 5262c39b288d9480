"""Low-level keyed stateful processing tier (batch).

The public surface users get when they outgrow the Pattern DSL — the
same per-key state + event-time-timer model the reference's example 4
exposes via Flink's ``KeyedProcessFunction``
(FlinkProcessFunctionExample.scala:44-87):

- named, typed, per-key mutable value states
  (``ValueStateDescriptor`` ×3 at :46-53 → :class:`ValueState`);
- per-element callback with the element's event timestamp
  (``ctx.timestamp``, :61,73);
- event-time timers (``ctx.timerService.registerEventTimeTimer``, :71);
- an output collector (``Collector.collect``, :81).

Batch semantics: rows are processed per key in event-time order —
ascending by the order column's full (µs) timestamp, then by the
tiebreak, NULLs last (partition_scan.scan_order) — so two rows inside
one millisecond keep their event-time order. The total order makes the
watermark implicitly complete. ``ctx.timestamp`` and timers stay in
epoch ms (the reference's unit); timers with ``ts < current row ts``
fire before the row is processed, and all remaining timers fire at
end-of-input (watermark → ∞). The streaming
tier (streaming/keyed_process_stream.py) runs the same processor class
under ``applyInPandasWithState``.

This is deliberately the slow path — per-row Python — for imperative
logic that genuinely can't be expressed declaratively; everything else
belongs in DataFrame ops or the CEP operator.
"""

from __future__ import annotations

from typing import Any, Callable, Protocol

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from flink_cep_examples_spark.operators.partition_scan import (
    null_flags_sql,
    scan_sorted,
    sort_by_key,
    time_key,
    timestamp_sql,
)

_TS_COL = "__kp_ts_ms"


class ValueState:
    """Named per-key mutable state slot (Flink ValueState 1:1:
    ``value()`` / ``update(v)`` / ``clear()``; null-as-uninitialized)."""

    __slots__ = ("_v",)

    def __init__(self) -> None:
        self._v = None

    def value(self):
        return self._v

    def update(self, v) -> None:
        self._v = v

    def clear(self) -> None:
        self._v = None


class TimerService:
    """Event-time timers. Registrations are deduplicated per timestamp
    (Flink semantics: one timer per key per timestamp)."""

    __slots__ = ("_timers",)

    def __init__(self) -> None:
        self._timers: set[int] = set()

    def register_event_time_timer(self, ts_ms: int) -> None:
        self._timers.add(int(ts_ms))

    def delete_event_time_timer(self, ts_ms: int) -> None:
        self._timers.discard(int(ts_ms))


class Context:
    """Per-element context: current key, element event-time (epoch ms,
    matching the reference's millisecond arithmetic,
    FlinkProcessFunctionExample.scala:22,71), state access, timers."""

    __slots__ = ("key", "timestamp", "timer_service", "_states")

    def __init__(self, key) -> None:
        self.key = key
        self.timestamp: int | None = None
        self.timer_service = TimerService()
        self._states: dict[str, ValueState] = {}

    def state(self, name: str) -> ValueState:
        if name not in self._states:
            self._states[name] = ValueState()
        return self._states[name]


class KeyedProcessor(Protocol):
    def process_element(self, value: dict, ctx: Context, out: list) -> None: ...

    # optional: def on_timer(self, ts_ms: int, ctx: Context, out: list) -> None


def keyed_process(
    df: DataFrame,
    processor_factory: Callable[[], Any],
    output_schema: T.StructType | str,
    key_cols: tuple[str, ...] = ("id",),
    order_col: str = "event_time",
    tiebreak_col: str = "seq",
) -> DataFrame:
    """Run a keyed processor over each key group in event-time order.

    ``processor_factory`` builds a fresh processor per key (state is
    per-key, as in Flink). Output rows are dicts matching
    ``output_schema``.
    """
    if isinstance(output_schema, str):
        output_schema = T.StructType.fromDDL(output_schema)
    key_list = list(key_cols)
    ts = timestamp_sql(order_col)
    # the input's own columns: the scan adds its timestamp and key flags
    names = list(df.columns)
    # sort on the order column itself, then add the ms timestamp: a
    # window over the same key and order below (the billing source's
    # balance lag) already sorts the rows so, and Catalyst keeps its one
    # Exchange and one Sort for both
    ordered = sort_by_key(df, key_list, [time_key(df, order_col), tiebreak_col])
    staged = ordered.selectExpr(
        "*",
        f"CAST(unix_micros({ts}) / 1000 AS BIGINT) AS {_TS_COL}",
        *null_flags_sql(df, key_list),
    )
    out_cols = [f.name for f in output_schema.fields]

    def run_batch(pdf: pd.DataFrame, bounds) -> pd.DataFrame:
        ts_all = pdf[_TS_COL].tolist()
        keys = [pdf[k].to_numpy() for k in key_list]
        # the row dicts are built once per batch, each key takes a slice;
        # per-column tolist() boxes the same Python values as
        # to_dict("records") in ~60 % of its time
        records = [
            dict(zip(names, row))
            for row in zip(*(pdf[c].tolist() for c in names))
        ]
        out: list[dict] = []
        for lo, hi in bounds:
            key = tuple(kv[lo] for kv in keys)
            ctx = Context(key if len(key) > 1 else key[0])
            proc = processor_factory()
            on_timer = getattr(proc, "on_timer", None)
            for rec, ts in zip(records[lo:hi], ts_all[lo:hi]):
                # fire due timers: event time has passed them
                if on_timer is not None and ctx.timer_service._timers:
                    due = sorted(t for t in ctx.timer_service._timers if t < ts)
                    for t in due:
                        ctx.timer_service._timers.discard(t)
                        ctx.timestamp = t
                        on_timer(t, ctx, out)
                ctx.timestamp = ts
                proc.process_element(rec, ctx, out)
            # end of input = watermark → ∞: fire everything left
            if on_timer is not None:
                for t in sorted(ctx.timer_service._timers):
                    ctx.timestamp = t
                    on_timer(t, ctx, out)
                ctx.timer_service._timers.clear()
        return pd.DataFrame(
            {c: [row.get(c) for row in out] for c in out_cols}, columns=out_cols
        )

    return scan_sorted(staged, key_list, run_batch, output_schema)


# ---------------------------------------------------------------------------
# The reference's example-4 processor, re-expressed on this tier
# ---------------------------------------------------------------------------


class AlertReactionProcessor:
    """Re-implementation (from observable semantics, not a copy) of the
    hand-rolled alert state machine in
    FlinkProcessFunctionExample.scala:55-86:

    - on an alarm row (balanceBefore >= 10 and balanceAfter < 10):
      record last-modified := element ts, alerted := true, remember the
      alarm datetime (:67-71; the registered timer at :71 is dead code —
      onTimer is never overridden — so expiry is enforced inline, which
      is what we replicate);
    - if the element ts is >= last alarm ts + 1h: expire the alert
      (:73-77, note ``>=``: a top-up at exactly +1h does NOT emit);
    - on a top-up row (balanceBefore < balanceAfter) while alerted:
      emit (id, alarmTriggerDatetime, datetime) and reset (:78-85).

    Fidelity notes (deliberate): unlike the CEP tier this matches the
    *latest* alarm before a top-up (each alarm overwrites state), never
    validates B rows, and emits no timeout output. One guard added: the
    reference null-derefs ``lastModifiedState`` when a key's first event
    is not an alarm (:73 with state still null); we skip the expiry
    check until state exists instead of crashing.
    """

    WITHIN_MS = 3_600_000  # FlinkProcessFunctionExample.scala:22

    def process_element(self, value: dict, ctx: Context, out: list) -> None:
        last_modified = ctx.state("last_modified_state")
        alarm_dt = ctx.state("alarm_trigger_datetime")
        alerted = ctx.state("alerted")

        if value["balanceBefore"] >= 10 and value["balanceAfter"] < 10:
            last_modified.update(ctx.timestamp)
            alerted.update(True)
            alarm_dt.update(value["datetime"])
        if (
            last_modified.value() is not None
            and ctx.timestamp >= last_modified.value() + self.WITHIN_MS
        ):
            alerted.update(False)
            alarm_dt.update("")
        if value["balanceBefore"] < value["balanceAfter"] and alerted.value():
            last_modified.update(ctx.timestamp)
            out.append(
                {
                    "id": value["id"],
                    "alarmTriggerDatetime": alarm_dt.value(),
                    "topupDatetime": value["datetime"],
                }
            )
            alerted.update(False)
            alarm_dt.update("")


def billing_low_level_alerts(df: DataFrame) -> DataFrame:
    """Example-4 as a query: alert reactions via the low-level tier."""
    from flink_cep_examples_spark.schemas import ALERT_REACTION_SCHEMA

    return keyed_process(df, AlertReactionProcessor, ALERT_REACTION_SCHEMA)
