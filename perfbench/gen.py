"""Seeded input generator for the CEP benchmark.

Every workload's input is a deterministic function of its seed and of the
shape parameters recorded in ``README.md``. Events have the shape of
the catalog's ``events`` table (``event_id, ts, user_id, event_type, value,
props``), so ``events_as_billing``, the catalog queries and their DuckDB
oracles read them unchanged. ``value`` is a per-user balance walk: slow
drains cross the alarm line (balance 10) and occasional top-ups end an
alarm either inside its hour (a match) or after it (a timeout).

The data covers the FIXTURES.md section 1 cases: timestamp ties inside a
key (stream only), out-of-order arrival up to the 6-minute watermark, a
few arrivals later than that, and keys whose first event is not an alarm.

Run as a program (``python3 gen.py --dir ... --seed ...``) it is the open-loop
generator of ``stream_live``: one process, one thread, writing parquet
files atomically (temp file + rename) on a fixed wall-clock schedule.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00Z, the start of every generated history (seconds).
EPOCH_S = 1_704_067_200
WATERMARK_S = 360  # the engine's 6-minute out-of-orderness bound
#: out-of-order delays stay this far inside the watermark, late ones
#: start this far beyond it (event-time seconds)
OOO_MAX_S = 300
LATE_RANGE_S = (500, 700)
EVENT_TYPES = np.array(["purchase", "topup", "view", "signup", "error"])
TOPUP_P = 0.12  # chance an event is a top-up
FIRST_ALARM_SHARE = 0.1  # keys whose first event is an alarm
MEAN_GAP_S = 720  # mean event-time gap between a key's events
OOO_SHARE = 0.05  # share of events delayed inside the watermark
LATE_SHARE = 0.005  # share of events delayed beyond it
#: share of stream events tied in ts with their key's previous event; the
#: histories have none (see history.SHAPES)
TIE_SHARE = 0.02
#: user id of the stream's far-future flush event (never compared)
FLUSH_USER = -1

EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
#: stream files add the precomputed lag (a streaming source cannot run
#: the batch mapping's window) and the generator's stamps (epoch ns)
STREAM_SCHEMA = EVENT_SCHEMA.append(pa.field("balance_before", pa.float64()))
STREAM_SCHEMA = STREAM_SCHEMA.append(pa.field("created_ns", pa.int64()))
STREAM_SCHEMA = STREAM_SCHEMA.append(pa.field("due_ns", pa.int64()))


@dataclass(frozen=True)
class Shape:
    """Size and key skew of one batch history (recorded in README.md)."""

    keys: int
    events: int
    zipf: float  # 0 = uniform events per key


def per_key_counts(shape: Shape) -> np.ndarray:
    """Events per key rank. Deterministic, so every seed has the same hot
    keys' sizes; the seed only chooses which user ids own them."""
    if shape.zipf <= 0:
        base = np.full(shape.keys, shape.events // shape.keys, dtype=np.int64)
        base[: shape.events - int(base.sum())] += 1
        return base
    w = np.arange(1, shape.keys + 1, dtype=np.float64) ** -shape.zipf
    counts = np.maximum(2, np.floor(shape.events * w / w.sum())).astype(np.int64)
    counts[0] += max(0, shape.events - int(counts.sum()))
    return counts


def _walk(rng: np.random.Generator, owner: np.ndarray) -> np.ndarray:
    """Per-key balance walk over events listed in per-key event-time order
    (``owner`` = the key index of each event)."""
    n = len(owner)
    up = rng.random(n) < TOPUP_P
    up_amt = rng.uniform(15.0, 60.0, n)
    drop = rng.uniform(0.0, 12.0, n)
    first_alarm = rng.random(n) < FIRST_ALARM_SHARE
    start = np.where(first_alarm, rng.uniform(0.0, 9.0, n), rng.uniform(20.0, 80.0, n))
    out = np.empty(n)
    prev_owner = -1
    bal = 0.0
    for i in range(n):
        if owner[i] != prev_owner:
            prev_owner = owner[i]
            bal = start[i]
        elif up[i]:
            bal = bal + up_amt[i]
        else:
            bal = max(0.0, bal - drop[i])
        out[i] = round(bal, 2)
    return out


def _delays(rng: np.random.Generator, n: int) -> np.ndarray:
    """Event-time arrival delay of each event (0 = in order)."""
    u = rng.random(n)
    d = np.zeros(n, dtype=np.int64)
    ooo = u < OOO_SHARE
    late = (u >= OOO_SHARE) & (u < OOO_SHARE + LATE_SHARE)
    d[ooo] = rng.integers(1, OOO_MAX_S + 1, int(ooo.sum()))
    d[late] = rng.integers(LATE_RANGE_S[0], LATE_RANGE_S[1] + 1, int(late.sum()))
    return d


def _lag(user: np.ndarray, ts: np.ndarray, eid: np.ndarray, value: np.ndarray) -> np.ndarray:
    """``balanceBefore`` as events_as_billing defines it: the previous value
    of the user in (ts, event_id) order, 50.0 for the first event."""
    order = np.lexsort((eid, ts, user))
    before = np.full(len(user), 50.0)
    u, v = user[order], value[order]
    same = np.concatenate([[False], u[1:] == u[:-1]])
    prev = np.concatenate([[50.0], v[:-1]])
    before[order] = np.where(same, prev, 50.0)
    return before


def history(seed: int, shape: Shape) -> dict[str, np.ndarray]:
    """A batch history: columns in arrival (file) order."""
    rng = np.random.default_rng(seed)
    counts = per_key_counts(shape)
    users = rng.permutation(shape.keys).astype(np.int64)
    owner = np.repeat(np.arange(shape.keys), counts)
    n = len(owner)
    gaps = np.maximum(1, rng.exponential(MEAN_GAP_S, n)).astype(np.int64)
    firsts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    gaps[firsts] = rng.integers(0, 86_400, shape.keys)  # per-key start offset
    # cumulative sum restarted at every key
    csum = np.cumsum(gaps)
    ts = csum - np.repeat(csum[firsts] - gaps[firsts], counts) + EPOCH_S
    value = _walk(rng, owner)
    arrival = ts + _delays(rng, n)
    # event_id is generation order; rows are written in arrival order
    eid = np.arange(n, dtype=np.int64)
    order = np.lexsort((eid, arrival))
    return {
        "event_id": eid[order],
        "ts": ts[order],
        "user_id": users[owner][order],
        "value": value[order],
    }


def events_table(cols: dict[str, np.ndarray], extra: dict | None = None) -> pa.Table:
    n = len(cols["event_id"])
    eid = cols["event_id"]
    data = {
        "event_id": pa.array(eid, pa.int64()),
        "ts": pa.array(cols["ts"].astype("datetime64[s]").astype("datetime64[us]")),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(EVENT_TYPES[eid % len(EVENT_TYPES)]),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in (eid % 100).tolist()]) if n else pa.array([], pa.string()),
    }
    schema = EVENT_SCHEMA
    if extra:
        data.update({k: pa.array(v) for k, v in extra.items()})
        schema = STREAM_SCHEMA
    return pa.table(data, schema=schema)


def write_history(directory: str, seed: int, shape: Shape) -> int:
    """Write ``<directory>/events.parquet``; return its event count."""
    cols = history(seed, shape)
    os.makedirs(directory, exist_ok=True)
    pq.write_table(events_table(cols), os.path.join(directory, "events.parquet"))
    return len(cols["event_id"])


# ---------------------------------------------------------------------------
# stream_live: backlog + open-loop live phase + flush
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class StreamPlan:
    keys: int
    backlog_events: int
    backlog_files: int
    rate: float  # live events per wall second
    speedup: float  # event-time seconds per wall second
    file_interval_s: float  # live files are due every this many wall seconds


def stream_events(seed: int, plan: StreamPlan, live_s: float) -> dict[str, np.ndarray]:
    """All stream events in generation order. ``ts`` < 0 is the backlog
    (event-time seconds relative to the live start E0); the live phase
    starts at ts 0 and advances ``speedup`` event seconds per wall second."""
    rng = np.random.default_rng(seed)
    n_live = int(plan.rate * live_s)
    per_key_gap = plan.keys / plan.rate * plan.speedup  # event s between a key's events
    backlog_span = int(plan.backlog_events / plan.keys * per_key_gap)
    ts = np.concatenate(
        [
            np.sort(rng.integers(-backlog_span, 0, plan.backlog_events)),
            np.sort(rng.integers(0, int(live_s * plan.speedup), n_live)),
        ]
    )
    key = rng.integers(0, plan.keys, len(ts))
    # ties: a share of events repeat their predecessor's key and ts
    tie = rng.random(len(ts)) < TIE_SHARE
    tie[0] = False
    idx = np.arange(len(ts))
    src = np.maximum.accumulate(np.where(tie, 0, idx))
    key = key[src]
    ts = ts[src]
    order = np.lexsort((idx, key))  # per-key generation order for the walk
    value = np.empty(len(ts))
    value[order] = _walk(rng, key[order])
    delay = _delays(rng, len(ts))
    delay[ts < 0] = 0  # the backlog sits on disk before the stream starts
    eid = idx.astype(np.int64)
    return {
        "event_id": eid,
        "ts_rel": ts,
        "user_id": key.astype(np.int64),
        "value": value,
        "delay": delay,
        "balance_before": _lag(key, ts, eid, value),
    }


def _write_atomic(table: pa.Table, tmp_dir: str, out_dir: str, name: str) -> None:
    tmp = os.path.join(tmp_dir, name)
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(out_dir, name))


def _stream_rows(ev: dict, sel: np.ndarray, e0: int, t0_ns: int, speedup: float) -> pa.Table:
    ts_rel = ev["ts_rel"][sel]
    created = t0_ns + (ts_rel * 1e9 / speedup).astype(np.int64)
    return events_table(
        {
            "event_id": ev["event_id"][sel],
            "ts": ts_rel + e0,
            "user_id": ev["user_id"][sel],
            "value": ev["value"][sel],
        },
        extra={
            "balance_before": ev["balance_before"][sel],
            "created_ns": created,
            "due_ns": created + (ev["delay"][sel] * 1e9 / speedup).astype(np.int64),
        },
    )


def run_stream_generator(args: argparse.Namespace) -> None:
    """Open-loop generator process. Protocol on stdin/stdout (one JSON
    object per line): writes the backlog and prints ``ready``; waits for
    ``go``; writes live files on schedule for ``live_s`` seconds, then the
    delayed stragglers and the flush event; prints ``done`` with its
    health counters and exits."""
    plan = StreamPlan(**json.loads(args.plan))
    ev = stream_events(args.seed, plan, args.live_s)
    e0 = EPOCH_S + 30 * 86_400
    out_dir, tmp_dir = os.path.join(args.dir, "stream"), os.path.join(args.dir, "tmp")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(tmp_dir, exist_ok=True)
    backlog = np.flatnonzero(ev["ts_rel"] < 0)
    for i, part in enumerate(np.array_split(backlog, plan.backlog_files)):
        _write_atomic(_stream_rows(ev, part, e0, 0, plan.speedup), tmp_dir, out_dir, f"b{i:05d}.parquet")
    print(json.dumps({"ready": True, "backlog_events": int(len(backlog))}), flush=True)

    if sys.stdin.readline().strip() != "go":
        return
    t0_ns = time.time_ns()
    live = np.flatnonzero(ev["ts_rel"] >= 0)
    due_wall = (ev["ts_rel"][live] + ev["delay"][live]) / plan.speedup
    live = live[np.argsort(due_wall, kind="stable")]
    due_wall = np.sort(due_wall, kind="stable")
    last_due = float(due_wall[-1]) if len(due_wall) else 0.0
    n_slots = int(np.ceil(max(args.live_s, last_due) / plan.file_interval_s)) + 1
    max_late_ns, sent, pos = 0, 0, 0
    for k in range(1, n_slots + 1):
        slot_ns = t0_ns + int(k * plan.file_interval_s * 1e9)
        now = time.time_ns()
        if slot_ns > now:
            time.sleep((slot_ns - now) / 1e9)
        end = int(np.searchsorted(due_wall, k * plan.file_interval_s, side="right"))
        if end > pos:
            sel = live[pos:end]
            _write_atomic(_stream_rows(ev, sel, e0, t0_ns, plan.speedup), tmp_dir, out_dir, f"l{k:06d}.parquet")
            sent += end - pos
            pos = end
        max_late_ns = max(max_late_ns, time.time_ns() - slot_ns)
    # far-future flush: advances the watermark past every deadline
    flush_ts = e0 + int(n_slots * plan.file_interval_s * plan.speedup) + 86_400
    flush = events_table(
        {"event_id": np.array([len(ev["event_id"])]), "ts": np.array([flush_ts]),
         "user_id": np.array([FLUSH_USER]), "value": np.array([50.0])},
        extra={"balance_before": np.array([50.0]), "created_ns": np.array([time.time_ns()]),
               "due_ns": np.array([time.time_ns()])},
    )
    _write_atomic(flush, tmp_dir, out_dir, "z_flush.parquet")
    print(json.dumps({"done": True, "t0_ns": t0_ns, "e0": e0, "events_sent": sent,
                      "max_late_ms": max_late_ns / 1e6, "flush_ts": flush_ts}), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser(description="stream_live open-loop generator")
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--live-s", type=float, required=True)
    ap.add_argument("--plan", required=True, help="StreamPlan as JSON")
    run_stream_generator(ap.parse_args())


if __name__ == "__main__":
    main()
