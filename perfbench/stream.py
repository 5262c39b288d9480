"""``stream_live``: the reference pattern with timeouts through
``match_pattern_stream`` over a parquet file source.

Phase 1 drains a backlog of files already on disk (catch-up after an
outage). Phase 2 takes open-loop input from a separate generator process
at a fixed rate below saturation; event time runs ``speedup`` times wall
time, so the 1-hour ``WITHIN`` and the 6-minute watermark both elapse
inside the run. A far-future flush event then fires every pending
timeout, and the sink's output is compared with the catalog's reference
for ``cep_alerts_with_timeouts_nfa`` over the same events, on the keys
that received no event later than the watermark.

Alert latency is measured from the instant an alert became decidable to
when the sink saw it: for a match, the generator's creation stamp of its
top-up (C) event; for a timeout, the wall instant the generator's
event-time clock passed alarm + 1 h. Every time has the hypervisor's
steal taken out (``tracing.StealClock``).
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import math
import os
import select
import statistics
import subprocess
import sys
import time
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

import check
import gen
import tracing as tr

PLAN = gen.StreamPlan(keys=2_000, backlog_events=32_000, backlog_files=32, rate=2_000.0,
                      speedup=720.0, file_interval_s=0.2)
#: the backlog drains in batches of this many files; live batches carry
#: about (batch time ÷ file interval) files, well under it
MAX_FILES_PER_TRIGGER = 16
#: the live phase runs WARMUP_S + --seconds + COOLDOWN_S; latency samples
#: are the alerts that became decidable in the middle --seconds (the first
#: live batches are still warming up; alerts near the end wait for the
#: flush, as no newer event moves the watermark)
WARMUP_S, COOLDOWN_S = 2.0, 1.0
WITHIN_S = 3600
TOGGLE_S = 2.0  # traced run: the listener is attached every other slice
GEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py")


def _iso_ns(ts: str) -> int:
    return int(dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e9)


def _read_line(proc: subprocess.Popen, timeout_s: float) -> dict:
    """The generator's next JSON status line."""
    ready, _, _ = select.select([proc.stdout], [], [], timeout_s)
    line = proc.stdout.readline() if ready else ""
    if not line:
        raise RuntimeError(f"generator silent for {timeout_s} s or gone (exit {proc.poll()})")
    return json.loads(line)


def run(ctx) -> dict:
    live_s = WARMUP_S + ctx.seconds + COOLDOWN_S
    T = ctx.tracer
    data = os.path.join(ctx.work, "stream_in")
    proc = subprocess.Popen(
        [sys.executable, GEN, "--dir", data, "--seed", str(ctx.seed),
         "--live-s", str(live_s), "--plan", json.dumps(PLAN.__dict__)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    ctx.rss.exclude.add(proc.pid)
    try:
        return _run(ctx, proc, data, live_s, T)
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()


def _run(ctx, proc, data, live_s, T) -> dict:
    ready = _read_line(proc, 120)
    backlog = ready["backlog_events"]

    # ---- set-up: session, stream defined and started
    t_setup, t_setup_ns = time.perf_counter(), time.time_ns()
    with T.span("session") as s_session:
        spark = ctx.start_session({"spark.sql.streaming.numRecentProgressUpdates": "2000"})
    from pyspark.sql import functions as F
    from pyspark.sql import types as T_
    from pyspark.sql.pandas.types import from_arrow_schema

    from flink_cep_examples_spark.plans.pattern import billing_pattern
    from flink_cep_examples_spark.streaming import match_pattern_stream

    schema = from_arrow_schema(gen.STREAM_SCHEMA, prefer_timestamp_ntz=True)
    src = (spark.readStream.schema(schema).option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
           .parquet(os.path.join(data, "stream")))
    billing = src.select(
        F.col("user_id").cast("string").alias("id"),
        F.col("ts").cast(T_.TimestampType()).alias("event_time"),
        F.col("event_id").alias("seq"),
        F.col("balance_before").alias("balanceBefore"),
        F.col("value").alias("balanceAfter"),
        F.date_format(F.col("ts").cast(T_.TimestampType()), "yyyy-MM-dd HH:mm:ss").alias("datetime"),
    )
    seen: list[tuple] = []

    def sink(batch_df, batch_id: int) -> None:
        with T.span("sink", batch=batch_id):
            rows = batch_df.collect()
        now = time.time_ns()
        seen.extend((r["id"], r["alarmTriggerDatetime"], r["topupDatetime"], r["tag"], now) for r in rows)

    with T.span("stream.define"):
        out = match_pattern_stream(billing, billing_pattern(emit_timeouts=True), "6 minutes")
    # warm-up: a throwaway query drains the same backlog to completion, so
    # the measured query catches up on a warm JVM (a cold first batch
    # carries seconds of code generation and JIT compilation)
    with T.span("stream.warmup"):
        (out.writeStream.foreachBatch(lambda df, _: df.collect()).trigger(availableNow=True)
         .option("checkpointLocation", os.path.join(ctx.work, "checkpoints", "warmup"))
         .start().awaitTermination())
    q = (out.writeStream.foreachBatch(sink)
         .option("checkpointLocation", os.path.join(ctx.work, "checkpoints", "stream_live"))
         .start())
    t_started_ns = time.time_ns()
    setup = (time.perf_counter() - t_setup, t_setup_ns, time.time_ns())
    ctx.started_timed_work()

    try:
        # ---- phase 1: drain the backlog
        caught_ns = _wait(q, lambda ps: _caught_up(ps, backlog), 120, "backlog not drained")
        # ---- phase 2: open-loop live input, then stragglers and the flush
        proc.stdin.write("go\n")
        proc.stdin.flush()
        toggles = _live(spark, live_s, T) if T.enabled else []
        done = _read_line(proc, live_s + 60)
        flush_wm_ns = (done["flush_ts"] - gen.WATERMARK_S) * 10**9
        _wait(q, lambda ps: any(p["eventTime"].get("watermark") and
                                _iso_ns(p["eventTime"]["watermark"]) >= flush_wm_ns for p in ps),
              60, "flush never reached the watermark")
        progress = list(q.recentProgress)
        ctx.finished_timed_work()
    finally:
        q.stop()
    if q.exception() is not None:
        ctx.fail(f"stream query: {q.exception()}")

    # ---- outside the timed region: stamps, latencies, correctness
    stamps = pq.read_table(glob.glob(os.path.join(data, "stream", "*.parquet"))).to_pandas()
    t0_ns, e0 = done["t0_ns"], done["e0"]
    served = ctx.steal.served
    lat = _latencies(seen, stamps, t0_ns, e0, ctx.seconds, served)
    _check(ctx, data, stamps, seen)
    ctx.attempted += len(progress)

    live_b = [p for p in progress if t0_ns <= _iso_ns(p["timestamp"]) < t0_ns + live_s * 1e9]
    ctx.note("live micro-batch ms: " + " ".join(str(p["durationMs"].get("triggerExecution")) for p in live_b))
    catchup_s = (caught_ns - t_started_ns) / 1e9
    res = {"setup_s": setup[0] * served(*setup[1:]),
           "events_per_s": backlog / (catchup_s * served(t_started_ns, caught_ns))}
    res.update(_latency_metrics(lat["match"] + lat["timeout"], scale=1e3))
    ctx.note(f"stream_live: backlog {backlog} events drained in {catchup_s:.2f} s; live "
             f"{done['events_sent']} events; {len(lat['match'])} match and {len(lat['timeout'])} timeout "
             f"latency samples; generator at most {done['max_late_ms']:.1f} ms late")
    if T.enabled:
        res["layers"] = L = _layers(s_session, progress, lat, done, t0_ns, e0, live_s, caught_ns, toggles)
        live_ids = {p["batchId"] for p in live_b}

        def finish() -> None:
            """Python-worker time per live batch, from the event log that
            is complete once the session has stopped."""
            _, batch_py_s = tr.event_log_stats(ctx.event_log_dir())
            L["stream.python_run_ms_p50"] = 1e3 * _med([s for b, s in batch_py_s.items() if b in live_ids])

        res["finish"] = finish
    return res


def _caught_up(progress: list[dict], backlog: int) -> int | None:
    """Wall ns at which the batch that completed the backlog ended."""
    total = 0
    for p in progress:
        total += p["numInputRows"]
        if total >= backlog:
            return _iso_ns(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) * 10**6
    return None


def _wait(q, cond, timeout_s: float, what: str):
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if q.exception() is not None:
            raise RuntimeError(f"stream query failed: {q.exception()}")
        hit = cond(q.recentProgress)
        if hit:
            return hit
        time.sleep(0.02)
    raise TimeoutError(what)


def _live(spark, live_s: float, T) -> list[tuple[float, bool]]:
    """Traced run: attach the progress listener in alternate slices of the
    live phase so batches with and without it pair up for
    trace.overhead_ratio. Returns (wall s, attached) switch points."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            end = time.perf_counter()
            T.add("micro_batch", end - p.durationMs.get("triggerExecution", 0) / 1e3, end, batch=p.batchId)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener, attached, toggles = Listener(), False, []
    t_end = time.time() + live_s
    while time.time() < t_end:
        attached = not attached
        (spark.streams.addListener if attached else spark.streams.removeListener)(listener)
        toggles.append((time.time(), attached))
        time.sleep(min(TOGGLE_S, max(0.0, t_end - time.time())))
    if attached:
        spark.streams.removeListener(listener)
    toggles.append((time.time(), False))
    return toggles


def _latencies(seen, stamps, t0_ns: int, e0: int, seconds: float, served) -> dict[str, list[float]]:
    """Seconds from decidable to seen, with steal taken out, for alerts
    decidable inside the measured window of the live phase."""
    lo, hi = t0_ns + WARMUP_S * 1e9, t0_ns + (WARMUP_S + seconds) * 1e9
    is_c = stamps["balance_before"].to_numpy() < stamps["value"].to_numpy()
    dtxt = stamps["ts"].dt.strftime("%Y-%m-%d %H:%M:%S")
    created = {}
    for uid, d, c, cr in zip(stamps["user_id"].astype(str), dtxt, is_c, stamps["created_ns"]):
        if c:
            created[(uid, d)] = max(created.get((uid, d), 0), int(cr))
    out = {"match": [], "timeout": []}
    for uid, alarm, topup, tag, seen_ns in seen:
        if tag == "match":
            start = created.get((uid, topup))
        else:
            alarm_s = int(dt.datetime.strptime(alarm, "%Y-%m-%d %H:%M:%S")
                          .replace(tzinfo=dt.timezone.utc).timestamp())
            start = t0_ns + (alarm_s + WITHIN_S - e0) * 1e9 / PLAN.speedup
        if start is not None and lo <= start <= hi:
            out[tag].append((seen_ns - start) / 1e9 * served(start, seen_ns))
    return out


def _check(ctx, data: str, stamps, seen) -> None:
    """Sink output against the reference of cep_alerts_with_timeouts_nfa
    over the same events, on keys that received no late event."""
    from flink_cep_examples_spark.queries import ORACLES, load_all

    load_all()
    oracle_dir = os.path.join(data, "oracle")
    os.makedirs(oracle_dir)
    path = os.path.join(oracle_dir, "events.parquet")
    pq.write_table(gen.events_table({c: stamps[c].to_numpy() for c in ("event_id", "user_id", "value")}
                                    | {"ts": stamps["ts"].astype("datetime64[s]").astype(np.int64).to_numpy()}),
                   path)
    delay_s = (stamps["due_ns"] - stamps["created_ns"]) / 1e9 * PLAN.speedup
    excluded = set(stamps.loc[delay_s > gen.WATERMARK_S, "user_id"].astype(str)) | {str(gen.FLUSH_USER)}
    names, expected = check.oracle(path, ORACLES["cep_alerts_with_timeouts_nfa"])
    expected = Counter({r: n for r, n in expected.items() if r[0] not in excluded})
    actual = check.spark_rows([r for r in seen if r[0] not in excluded], range(len(names)))
    ctx.attempted += 1
    bad = check.mismatches(expected, actual)
    if bad:
        ctx.fail(f"stream output: {bad} rows differ from the reference "
                 f"({sum(expected.values())} expected)")
    ctx.note(f"check stream_live: {sum(expected.values())} reference rows; "
             f"{len(excluded) - 1} keys with late events excluded")


def _latency_metrics(samples: list[float], scale: float) -> dict:
    """Median, and the highest percentile (at most p99, at least the
    median) with at least ten samples beyond it, with that percentile and
    the sample count."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return {"p50": 0.0, "tail": 0.0, "tail_what": "no samples"}
    k = max((n - 1) // 2, min(n - 11, math.ceil(0.99 * n) - 1))
    return {"p50": statistics.median(xs) * scale, "tail": xs[k] * scale,
            "tail_what": f"p{100.0 * (k + 1) / n:.1f} of {n}"}


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _layers(s_session, progress, lat, done, t0_ns, e0, live_s, caught_ns, toggles) -> dict:
    t_live_end = t0_ns + live_s * 1e9

    def start_ns(p):
        return _iso_ns(p["timestamp"])

    live = [p for p in progress if t0_ns <= start_ns(p) < t_live_end]
    backlog = [p for p in progress if start_ns(p) < caught_ns]
    dur = lambda p, k: p["durationMs"].get(k, 0)  # noqa: E731
    ops = lambda p: p.get("stateOperators") or [{}]  # noqa: E731
    lag = []
    for p in live:
        mx = p["eventTime"].get("max")
        if mx:
            end_ns = start_ns(p) + dur(p, "triggerExecution") * 10**6
            clock_s = e0 + (end_ns - t0_ns) / 1e9 * PLAN.speedup
            lag.append(max(0.0, (clock_s - _iso_ns(mx) / 1e9) / PLAN.speedup))

    def attached_at(ns):
        state = False
        for t, a in toggles:
            if t * 1e9 <= ns:
                state = a
        return state

    on = [dur(p, "triggerExecution") for p in live if attached_at(start_ns(p))]
    off = [dur(p, "triggerExecution") for p in live if not attached_at(start_ns(p))]
    last = live[-1] if live else (progress[-1] if progress else {})
    return {
        "session.start_s": s_session["end"] - s_session["start"],
        "stream.batch_ms_p50": _med([dur(p, "triggerExecution") for p in live]),
        "stream.add_batch_ms_p50": _med([dur(p, "addBatch") for p in live]),
        "stream.planning_ms_p50": _med([dur(p, "queryPlanning") for p in live]),
        "stream.offset_commit_ms_p50": _med([dur(p, "walCommit") + dur(p, "commitOffsets") for p in live]),
        "stream.batches": len(live),
        "stream.catchup_batch_s": _med([dur(p, "triggerExecution") / 1e3 for p in backlog]),
        "stream.state_rows": sum(o.get("numRowsTotal", 0) for o in ops(last)) if last else 0,
        "stream.state_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops(last)) if last else 0,
        "stream.state_commit_ms_p50": _med([sum(o.get("commitTimeMs", 0) for o in ops(p)) for p in live]),
        "stream.input_lag_s": _med(lag),
        "stream.late_rows_dropped": sum(o.get("numRowsDroppedByWatermark", 0) for p in progress for o in ops(p)),
        "stream.match_latency_ms_p50": 1e3 * _med(lat["match"]),
        "stream.timeout_lag_ms_p50": 1e3 * _med(lat["timeout"]),
        "gen.max_late_ms": done["max_late_ms"],
        "gen.events_sent": done["events_sent"],
        "trace.overhead_ratio": _med(on) / _med(off) if on and off else 0.0,
    }
