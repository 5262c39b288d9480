"""CEP engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each invocation is one fresh Python
process running one workload (a shared process would carry the session,
the JIT state and the fast path's data-check memo into ``setup_s``). It
generates the workload's inputs from ``--seed``, sets up, measures for
``--seconds`` seconds, checks every output against an independent
reference outside the timed region, and prints one JSON object as the
last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
and the spans go to ``.perfbench_traces/``. A correctness mismatch or a
failed operation exits with code 1. All scratch files (inputs, Spark
local dirs, checkpoints, event logs) live in ``.perfbench_work/`` and
are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import traceback

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("history", "stream_live")
#: driver heap, committed and touched at start (-Xms, AlwaysPreTouch) so
#: peak RSS does not depend on when the collector grows the heap; the
#: engine's own default of 16g is too much for a shared host. peak_rss_mb
#: thus holds the heap at its full size and moves only with the JVM's
#: off-heap and non-heap memory and the Python processes.
DRIVER_MEM = "1g"
#: Spark task slots: half the CPUs. The other half run the driver's
#: planning thread, the JIT and GC threads, the Python worker and the
#: stream generator. Each time is corrected for steal (tracing.StealClock),
#: which is exact for one thread and falls short where parallel tasks wait
#: on a stolen CPU, so fewer slots keep the corrected times steadier
#: (README.md has the runs).
SPARK_CPUS = max(1, (os.cpu_count() or 2) // 2)


class Ctx:
    """What a workload needs from the harness: its scratch dir, the
    tracer, the session factory and the failure counters."""

    def __init__(self, args: argparse.Namespace):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.tracer = tracing.Tracer(self.traced, f"{args.workload}-seed{args.seed}")
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.spark = None
        self.rss = tracing.RssSampler()
        self.steal = tracing.StealClock()

    def note(self, line: str) -> None:
        self.notes.append(line)

    def fail(self, why: str) -> None:
        self.failed += 1
        self.note(f"FAILED {why}")

    def event_log_dir(self) -> str | None:
        return os.path.join(self.work, "eventlog") if self.traced else None

    def start_session(self, extra: dict[str, str] | None = None):
        os.environ["SPARK_GRAFT_CPUS"] = str(SPARK_CPUS)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        from flink_cep_examples_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": _JAVA_OPTS.format(tmp=os.path.join(self.work, "tmp"))
            + f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            **(extra or {}),
        }
        if self.traced:
            os.makedirs(self.event_log_dir(), exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                         "spark.eventLog.dir": "file://" + self.event_log_dir()})
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        return self.spark

    def started_timed_work(self) -> None:
        """Peak RSS covers the timed region only: the correctness gate's
        in-process DuckDB oracle and tables are not the engine's."""
        self.rss.start()

    def finished_timed_work(self) -> None:
        self.rss.stop()
        self.rss.sample()

    def stop_session(self) -> None:
        """Stop the session, then the driver JVM, and wait for it to exit
        (its Python workers exit with it)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            jvm = getattr(gateway, "proc", None)
            gateway.shutdown()
            if jvm is not None:
                jvm.stdin.close()  # the gateway exits on EOF
                jvm.wait(timeout=60)


#: JVM temp files under the run's scratch dir; no hsperfdata in /tmp
_JAVA_OPTS = "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _prepare_env(ctx: Ctx) -> None:
    for sub in ("local", "tmp", "checkpoints"):
        os.makedirs(os.path.join(ctx.work, sub), exist_ok=True)
    tmp = os.path.join(ctx.work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.work, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = _JAVA_OPTS.format(tmp=tmp)
    # Spark's Python workers import the engine package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _metrics(spec: list[dict], values: dict) -> dict:
    missing = [m["name"] for m in spec if m["name"] not in values]
    if missing:
        raise KeyError(f"workload did not measure {missing}")
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "flink_cep_examples_spark")) or not os.path.isfile(bench_json):
        print(f"perfbench: no engine package or BENCHMARK.json under {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2
    with open(bench_json) as f:
        spec = json.load(f)

    ctx = Ctx(args)
    # a SIGTERM still runs the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = None
    try:
        _prepare_env(ctx)
        ctx.steal.start()
        if args.workload == "stream_live":
            import stream

            result = stream.run(ctx)
        else:
            import history

            result = history.run(ctx)
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
    finally:
        try:
            ctx.rss.stop()
            ctx.steal.stop()
            ctx.stop_session()
            if result is not None and ctx.traced:
                _finish_trace(ctx, result)
        finally:
            shutil.rmtree(ctx.work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(ctx.work))  # if no other run is using it
            except OSError:
                pass
    if result is None:
        return 1

    values = {"setup_s": result["setup_s"], "latency_ms_p50": result["p50"],
              "latency_ms_tail": result["tail"], "events_per_s": result["events_per_s"],
              "peak_rss_mb": ctx.rss.peak_bytes / 2**20}
    for line in ctx.notes:
        print(line)
    print(f"{args.workload}: setup {values['setup_s']:.3f} s, latency p50 {values['latency_ms_p50']:.1f} ms, "
          f"tail ({result['tail_what']}) {values['latency_ms_tail']:.1f} ms, "
          f"{values['events_per_s']:.0f} events/s, peak RSS {values['peak_rss_mb']:.0f} MB, "
          f"error rate {ctx.failed}/{ctx.attempted}; times with steal taken out, "
          f"steal {100 * ctx.steal.share():.1f} % of the wanted CPU time")
    if ctx.traced:
        # a layer this workload does not run reads 0 (the layer split)
        idle = [m["name"] for m in spec["per_layer"] if m["name"] not in result["layers"]]
        print(f"not run by {args.workload}: {' '.join(idle)}")
        metrics = _metrics(spec["per_layer"], {**dict.fromkeys(idle, 0.0), **result["layers"]})
    else:
        metrics = _metrics(spec["end_to_end"], values)
    correct = ctx.failed == 0
    print(json.dumps({"correct": correct, "attempted": max(1, ctx.attempted), "failed": ctx.failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def _finish_trace(ctx: Ctx, result: dict) -> None:
    """Per-layer numbers that need the session stopped (the event log is
    complete only then), then the span dump."""
    if "finish" in result:
        result["finish"]()
    result["layers"]["host.steal_share"] = ctx.steal.share()
    path = os.path.join(ROOT, ".perfbench_traces", f"{ctx.tracer.run_id}.json")
    ctx.tracer.dump(path, {"layers": result.get("layers", {}), "notes": ctx.notes})


if __name__ == "__main__":
    sys.exit(main())
