"""``history``: one client in a closed loop over two generated histories.

Two catalog queries dispatch to the compiled window plans of
``operators.fast_path`` (no Python runs) over a history with uniform keys;
two run the Python NFA tier and the keyed-process tier over a history
with Zipf-skewed keys. The adaptive planner coalesces the Python queries'
key exchange into one partition, so one Python worker scans every key and
the hot key weighs through its share of the rows.
"""

from __future__ import annotations

import os
import statistics
import time

import check
import gen
import tracing as tr

#: query -> (layer, input)
QUERIES = {
    "cep_match_recognize": ("fast_path", "uniform"),
    "cep_alerts_with_timeouts": ("fast_path", "uniform"),
    "cep_alerts_with_timeouts_nfa": ("nfa", "skewed"),
    "cep_keyed_process": ("keyed_process", "skewed"),
}
#: untimed rounds after the cold runs: the JIT is still compiling, and the
#: first warm round runs about a quarter longer than the later ones (the
#: second is about a tenth longer; the timed median absorbs it)
WARMUP_ROUNDS = 1

SHAPES = {
    # No ts ties inside a key in the histories: two catalog oracles compare
    # timestamps where the engine compares (ts, event_id) positions, so a
    # tie makes them disagree with a correct engine (ALL ROWS reads a B row
    # tied with its C as a second C; the keyed-process oracle drops a
    # top-up whose alarm shares its ts with an earlier top-up). Ties are
    # exercised by stream_live, whose reference orders by position.
    "uniform": gen.Shape(keys=10_000, events=100_000, zipf=0.0),
    "skewed": gen.Shape(keys=300, events=20_000, zipf=1.1),
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(ctx) -> dict:
    inputs, n_events = {}, {}
    for k, (name, shape) in enumerate(SHAPES.items()):
        inputs[name] = os.path.join(ctx.work, name)
        n_events[name] = gen.write_history(inputs[name], ctx.seed + k * 1_000_003, shape)
    T = ctx.tracer

    # ---- set-up: session, inputs registered, one cold run of every query
    t_setup, t_setup_ns = time.perf_counter(), time.time_ns()
    with T.span("session") as s_session:
        spark = ctx.start_session()
    from flink_cep_examples_spark.queries import QUERIES as CATALOG, load_all
    from flink_cep_examples_spark.queries.cep import _MR_BODY
    from flink_cep_examples_spark.sources.billing import events_as_billing
    from flink_cep_examples_spark.sql.match_recognize import sql_with_match_recognize

    load_all()
    # the text cep_match_recognize runs, called directly to time the SQL
    # front-end alone
    mr_query = f"SELECT * FROM billing MATCH_RECOGNIZE ({_MR_BODY}) t"
    first_call_s = 0.0
    if T.enabled:
        t0 = time.perf_counter()
        with T.span("sql.first_call"):
            sql_with_match_recognize(spark, mr_query, {"billing": events_as_billing(spark, inputs["uniform"])})
        first_call_s = time.perf_counter() - t0
    cold = {}
    for q, (_, src) in QUERIES.items():
        with T.span("cold", query=q):
            cold[q] = CATALOG[q](spark, inputs[src]).collect()
    setup = (time.perf_counter() - t_setup, t_setup_ns, time.time_ns())
    warm_s = []
    with T.span("warmup"):
        for _ in range(WARMUP_ROUNDS):
            t0 = time.perf_counter()
            for q, (_, src) in QUERIES.items():
                _noop(CATALOG[q](spark, inputs[src]))
            warm_s.append(time.perf_counter() - t0)
    ctx.started_timed_work()

    # ---- timed closed loop: whole rounds until the run time is spent
    sqlm = tr.SqlMetrics(spark) if T.enabled else None
    sc = spark.sparkContext
    # wall s, start and end wall ns of every timed execution
    runs: dict[str, list[tuple[float, int, int]]] = {q: [] for q in QUERIES}
    traced_runs: dict[str, list[dict]] = {q: [] for q in QUERIES}
    untraced_sum = traced_sum = 0.0
    scan_s: dict[str, list[float]] = {src: [] for src in inputs}
    scan_execs, plan_ms = [], []
    t_loop = time.perf_counter()
    i, round_s, rounds_s = 0, 0.0, []
    # whole rounds keep every query's share of the samples equal; the loop
    # ends at the round boundary nearest to the run time
    while time.perf_counter() - t_loop + round_s / 2 < ctx.seconds or i == 0:
        t_round = time.perf_counter()
        for q, (layer, src) in QUERIES.items():
            ctx.attempted += 1
            # traced run: each query also runs traced, paired with the
            # untraced run for trace.overhead_ratio; the pair's order
            # alternates by round, as the second run finds warmer caches
            if T.enabled and i % 2:
                traced_sum += _traced(T, sqlm, sc, CATALOG[q], spark, inputs[src], q, layer, i, traced_runs)
            t0, t0_ns = time.perf_counter(), time.time_ns()
            try:
                _noop(CATALOG[q](spark, inputs[src]))
            except Exception as ex:  # noqa: BLE001 - a failed query is counted
                ctx.fail(f"{q}: {ex!r}")
                continue
            dt = time.perf_counter() - t0
            runs[q].append((dt, t0_ns, time.time_ns()))
            if T.enabled:
                untraced_sum += dt
                if not i % 2:
                    traced_sum += _traced(T, sqlm, sc, CATALOG[q], spark, inputs[src], q, layer, i, traced_runs)
        if T.enabled:
            for src, path in inputs.items():
                last = sqlm.last_id()
                with T.span("sources.scan", input=src) as ss:
                    _noop(events_as_billing(spark, path))
                scan_s[src].append(ss["end"] - ss["start"])
                if src == "uniform":
                    scan_execs.append(sqlm.executions_after(last))
            with T.span("sql.plan") as sp:
                sql_with_match_recognize(spark, mr_query, {"billing": events_as_billing(spark, inputs["uniform"])})
            plan_ms.append((sp["end"] - sp["start"]) * 1e3)
        i += 1
        round_s = time.perf_counter() - t_round
        rounds_s.append(round_s)
    loop_s = time.perf_counter() - t_loop
    ctx.finished_timed_work()

    # ---- correctness, outside the timed region: every query's cold
    # output and the first query's warm output against the catalog's
    # DuckDB oracle
    from flink_cep_examples_spark.queries import ORACLES

    for j, (q, (_, src)) in enumerate(QUERIES.items()):
        cols, expected = check.oracle(os.path.join(inputs[src], "events.parquet"), ORACLES[q])
        outputs = [("cold", cold[q])]
        if j == 0:
            outputs.append(("warm", CATALOG[q](spark, inputs[src]).collect()))
        for label, rows in outputs:
            ctx.attempted += 1
            bad = check.mismatches(expected, check.spark_rows(rows, cols))
            if bad:
                ctx.fail(f"{q} ({label}): {bad} rows differ from the oracle")
        ctx.note(f"check {q}: {sum(expected.values())} oracle rows")

    # every time with the hypervisor's steal taken out (tracing.StealClock)
    served = ctx.steal.served
    setup_s = setup[0] * served(*setup[1:])
    samples = {q: [dt * served(a, b) for dt, a, b in rs] for q, rs in runs.items()}
    medians = {q: statistics.median(xs) for q, xs in samples.items() if xs}
    # a run completes a handful of executions of each query, too few for
    # a percentile tail. Medians throughout, so one execution slowed by
    # the host does not move a run's figures: p50 is the typical query,
    # the geometric mean of each query's median (every query's relative
    # change weighs alike); the tail is the slowest query's median;
    # throughput is one round's input events over its median duration
    out = {"setup_s": setup_s, "p50": 1e3 * statistics.geometric_mean(medians.values()),
           "tail": 1e3 * max(medians.values()), "tail_what": "slowest query's median",
           "events_per_s": sum(n_events[QUERIES[q][1]] for q in medians) / sum(medians.values())}
    ctx.note(f"history: {n_events} events, {sum(map(len, samples.values()))} queries in {loop_s:.2f} s; "
             "median s per query (raw) " + ", ".join(f"{q} {m:.3f} ({statistics.median(r[0] for r in runs[q]):.3f})"
                                                     for q, m in medians.items()))
    ctx.note("round s: warm-up " + " ".join(f"{x:.2f}" for x in warm_s)
             + ", timed " + " ".join(f"{x:.2f}" for x in rounds_s))
    if T.enabled:
        out["layers"], out["finish"] = _layers(ctx, s_session, first_call_s, traced_runs,
                                                {k: _med(v) for k, v in scan_s.items()}, scan_execs,
                                                plan_ms, traced_sum, untraced_sum)
    return out


def _traced(T, sqlm, sc, query_fn, spark, data_dir, q, layer, i, traced_runs) -> float:
    """One traced execution of query ``q``: spans, its executions' plan
    metrics and its job count, under a job group the event log names."""
    group = f"{q}#{i}"
    sc.setJobGroup(group, group)
    last = sqlm.last_id()
    with T.span("query", query=q, layer=layer, group=group) as sq:
        with T.span("plan"):
            df = query_fn(spark, data_dir)
        with T.span("execute"):
            _noop(df)
    execs = sqlm.executions_after(last)
    sc.setLocalProperty("spark.jobGroup.id", None)
    s = sq["end"] - sq["start"]
    traced_runs[q].append({"s": s, "group": group, "execs": execs,
                           "jobs": len(sc.statusTracker().getJobIdsForGroup(group))})
    return s


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _layers(ctx, s_session, first_call_s, traced_runs, scan, scan_execs, plan_ms,
            traced_sum, untraced_sum) -> dict:
    scan_node = lambda n: n.startswith("Scan")  # noqa: E731
    L = {
        "session.start_s": s_session["end"] - s_session["start"],
        "sources.scan_s": scan["uniform"],
        "sources.rows_read": _med([tr.node_sum(e, scan_node, "number of output rows") for e in scan_execs]),
        "sources.bytes_read": _med([tr.node_sum(e, scan_node, "size of files read") for e in scan_execs]),
        "sql.plan_ms": _med(plan_ms),
        "sql.first_call_s": first_call_s,
        "trace.overhead_ratio": traced_sum / untraced_sum if untraced_sum else 0.0,
    }
    by_layer = {}
    for layer in ("fast_path", "nfa", "keyed_process"):
        qs = [q for q, (lay, _) in QUERIES.items() if lay == layer]
        runs = by_layer[layer] = [r for q in qs for r in traced_runs[q]]
        L[f"{layer}.self_s"] = max(0.0, _med([r["s"] for r in runs]) - scan[QUERIES[qs[0]][1]])
        L[f"{layer}.python_run_s"] = _med([tr.node_sum(r["execs"], tr.is_python_node, tr.PY_RUN) for r in runs])
        if layer == "fast_path":
            L["fast_path.exchanges"] = _med([sum(n["name"] == "Exchange" for e in r["execs"] for n in e["nodes"])
                                             for r in runs])
            L["fast_path.shuffle_bytes"] = _med([tr.node_sum(r["execs"], lambda n: n == "Exchange", "shuffle bytes written") for r in runs])
            L["fast_path.jobs"] = _med([r["jobs"] for r in runs])
        if layer == "nfa":
            L["nfa.python_init_s"] = _med([tr.node_sum(r["execs"], tr.is_python_node, tr.PY_INIT)
                                           + tr.node_sum(r["execs"], tr.is_python_node, tr.PY_BOOT) for r in runs])
            L["nfa.bytes_to_python"] = _med([tr.node_sum(r["execs"], tr.is_python_node, tr.PY_SENT) for r in runs])
            L["nfa.bytes_from_python"] = _med([tr.node_sum(r["execs"], tr.is_python_node, tr.PY_RECV) for r in runs])
    # the layer split the benchmark is built on
    py_share = {layer: (L[f"{layer}.python_run_s"], L[f"{layer}.self_s"]) for layer in ("nfa", "keyed_process")}
    ctx.note(f"layer split: fast_path.self_s={L['fast_path.self_s']:.3f} "
             f"python_run_s(fast_path)={L['fast_path.python_run_s']:.3f} "
             + " ".join(f"{k}: python {a:.3f} s of self {b:.3f} s" for k, (a, b) in py_share.items()))

    def finish() -> None:
        """Task skew, from the event log that is complete once the
        session has stopped."""
        skew, _ = tr.event_log_stats(ctx.event_log_dir())
        for layer in ("nfa", "keyed_process"):
            L[f"{layer}.task_skew"] = _med([x for r in by_layer[layer] for x in skew.get(r["group"], [])])

    return L, finish
