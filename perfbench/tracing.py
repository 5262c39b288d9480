"""Tracing for the CEP benchmark: spans recorded around calls into the
engine's public functions, plus counters read from outside the engine.

- Spans (name, start, end, parent, run id) are kept in memory and written
  out when the run ends.
- ``SqlMetrics`` reads an executed query's SQL metrics (Exchange shuffle
  bytes, the Python operators' worker times and Arrow bytes) from Spark's
  SQL status store, the data behind the SQL UI tab, which exists with the
  UI disabled.
- ``event_log_stats`` reads a Spark event log (enabled in traced runs
  only) for the task-time skew of the stages that ran Python and the
  Python-worker time of each streaming micro-batch.
- ``RssSampler`` sums the memory of this process and its descendants (the
  driver JVM and the Python workers) from ``/proc``.
- ``StealClock`` records the machine's CPU ticks from ``/proc/stat`` to
  take the time the hypervisor gave to other guests out of a wall time.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from bisect import bisect_left, bisect_right
from contextlib import contextmanager


class Tracer:
    """Span recorder. Disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "run": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span observed from a callback (no nesting)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name, "start": start, "end": end,
                               "parent": None, "run": self.run_id, **attrs})

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, f, indent=1, default=str)


# ---------------------------------------------------------------------------
# SQL metrics of executed queries
# ---------------------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0, "": 1.0}
_NUM = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: sizes in bytes, times in seconds."""
    if text is None:
        return 0.0
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SqlMetrics:
    """Reads finished SQL executions from Spark's SQL status store."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()

    def last_id(self) -> int:
        n = self.store.executionsCount()
        if n == 0:
            return -1
        execs = self.store.executionsList(n - 1, 1)
        return int(execs.apply(0).executionId()) if execs.size() else -1

    def executions_after(self, last_id: int, timeout_s: float = 5.0) -> list[dict]:
        """Every execution with id > ``last_id``, once all are complete:
        their plan nodes' metrics and their job counts."""
        deadline = time.monotonic() + timeout_s
        while True:
            n = self.store.executionsCount()
            seq = self.store.executionsList(max(0, n - 64), 64)
            execs = [seq.apply(i) for i in range(seq.size())]
            execs = [e for e in execs if int(e.executionId()) > last_id]
            done = all(e.completionTime().isDefined() for e in execs)
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        return [self._read(e) for e in execs]

    def _read(self, e) -> dict:
        eid = int(e.executionId())
        # iterate the Scala Map: py4j would box an int key as Integer,
        # which never equals the map's Long keys
        values, it = {}, self.store.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            values[int(kv._1())] = kv._2()
        nodes = []
        graph_nodes = self.store.planGraph(eid).allNodes()
        for i in range(graph_nodes.size()):
            node = graph_nodes.apply(i)
            ms = node.metrics()
            metrics = {}
            for j in range(ms.size()):
                m = ms.apply(j)
                metrics[m.name()] = parse_metric(values.get(int(m.accumulatorId())))
            nodes.append({"name": node.name(), "metrics": metrics})
        return {"id": eid, "jobs": int(e.jobs().size()), "nodes": nodes}


def node_sum(execs: list[dict], node_pred, metric: str) -> float:
    return sum(n["metrics"].get(metric, 0.0) for e in execs for n in e["nodes"] if node_pred(n["name"]))


PY_RUN = "time to run Python workers"
PY_INIT = "time to initialize Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def is_python_node(name: str) -> bool:
    """MapInPandas, FlatMapGroupsInPandas and the stateful variant."""
    return "InPandas" in name


# ---------------------------------------------------------------------------
# event log: task-time skew of the Python stages
# ---------------------------------------------------------------------------


def event_log_stats(event_log_dir: str) -> tuple[dict[str, list[float]], dict[int, float]]:
    """From a Spark event log: job group → [max ÷ median task time] for
    each stage whose tasks reported Python-worker time, and streaming
    batch id → Python-worker seconds summed over its tasks (a batch that
    a foreachBatch sink executes reports its metrics only per task)."""
    stage_group: dict[int, str] = {}
    stage_batch: dict[int, int] = {}
    stage_tasks: dict[int, list[float]] = {}
    stage_py_ms: dict[int, float] = {}
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(event_log_dir)
                   for f in fs if not f.startswith(("appstatus", ".")))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    for sid in ev.get("Stage IDs", []):
                        if props.get("spark.jobGroup.id"):
                            stage_group[sid] = props["spark.jobGroup.id"]
                        if props.get("streaming.sql.batchId") is not None:
                            stage_batch[sid] = int(props["streaming.sql.batchId"])
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    info = ev["Task Info"]
                    stage_tasks.setdefault(sid, []).append(
                        (info["Finish Time"] - info["Launch Time"]) / 1000.0)
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") == PY_RUN:
                            stage_py_ms[sid] = stage_py_ms.get(sid, 0.0) + float(acc.get("Update", 0))
    skew: dict[str, list[float]] = {}
    for sid in stage_py_ms:
        times = stage_tasks.get(sid, [])
        med = statistics.median(times) if times else 0.0
        if med > 0 and sid in stage_group:
            skew.setdefault(stage_group[sid], []).append(max(times) / med)
    batch_py_s: dict[int, float] = {}
    for sid, ms in stage_py_ms.items():  # a timing metric: milliseconds
        if sid in stage_batch:
            batch_py_s[stage_batch[sid]] = batch_py_s.get(stage_batch[sid], 0.0) + ms / 1e3
    return skew, batch_py_s


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


class RssSampler:
    """Peak summed memory of this process and its descendants, sampled
    from ``/proc`` every ``period_s``. Each process counts its
    proportional set size, so pages a forked Python worker shares with
    its daemon count once; a child that still shares its parent's
    address space (the JVM between fork and exec of a helper command) is
    skipped. ``exclude`` holds pids whose subtrees (the load generator)
    are not part of the system under test."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_bytes = 0
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)

    @staticmethod
    def _read(path: str) -> str | None:
        try:
            with open(path) as f:
                return f.read()
        except OSError:
            return None

    def _tree(self) -> list[tuple[int, int]]:
        """(pid, parent pid) of this process and its descendants."""
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            stat = self._read(f"/proc/{entry}/stat") if entry.isdigit() else None
            if stat:
                children.setdefault(int(stat.rsplit(")", 1)[1].split()[1]), []).append(int(entry))
        out, todo = [], [(os.getpid(), 0)]
        while todo:
            pid, ppid = todo.pop()
            if pid not in self.exclude:
                out.append((pid, ppid))
                todo.extend((c, pid) for c in children.get(pid, []))
        return out

    def sample(self) -> None:
        total, rss_of, exe_of = 0, {}, {}
        for pid, ppid in self._tree():
            statm, rollup = self._read(f"/proc/{pid}/statm"), self._read(f"/proc/{pid}/smaps_rollup")
            if not statm or not rollup:
                continue
            try:
                exe_of[pid] = os.readlink(f"/proc/{pid}/exe")
            except OSError:
                continue
            rss_of[pid] = statm.split()[1]
            if exe_of[pid] == exe_of.get(ppid) and rss_of[pid] == rss_of.get(ppid):
                continue
            total += next(int(line.split()[1]) * 1024 for line in rollup.splitlines() if line.startswith("Pss:"))
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)


# ---------------------------------------------------------------------------
# host: CPU time the hypervisor gave to other guests
# ---------------------------------------------------------------------------


class StealClock:
    """Samples the machine's busy and steal CPU ticks from ``/proc/stat``
    every ``period_s`` (wall ns, busy, steal). Steal is time a CPU of this
    virtual machine wanted to run but the hypervisor ran another guest.

    ``served(a, b)`` is the share of the CPU time wanted between wall ns
    ``a`` and ``b`` that the machine got: busy ÷ (busy + steal). A
    CPU-bound stretch of work stretches by its inverse, so ``wall ×
    served`` is the wall time the work would have taken with no steal.
    On a shared host steal comes and goes within seconds, from none to a
    fifth of the CPU time, and the run-to-run spread of raw wall times
    follows it."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.samples: list[tuple[int, int, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="steal-clock", daemon=True)

    @staticmethod
    def read() -> tuple[int, int, int]:
        with open("/proc/stat") as f:
            user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
        return time.time_ns(), user + nice + system + irq + softirq, steal

    def start(self) -> None:
        self.samples.append(self.read())
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        self.samples.append(self.read())

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.samples.append(self.read())

    def served(self, a_ns: float, b_ns: float) -> float:
        """Share of the wanted CPU time served between two wall instants,
        widened to the samples around them; 1.0 with no steal or no
        samples."""
        times = [s[0] for s in self.samples]
        i = max(0, bisect_right(times, a_ns) - 1)
        j = min(len(times) - 1, bisect_left(times, b_ns))
        if j <= i:
            return 1.0
        busy = self.samples[j][1] - self.samples[i][1]
        steal = self.samples[j][2] - self.samples[i][2]
        return busy / (busy + steal) if busy + steal > 0 else 1.0

    def share(self) -> float:
        """Steal ÷ (busy + steal) over everything recorded."""
        return 1.0 - self.served(self.samples[0][0], self.samples[-1][0]) if self.samples else 0.0
