"""Parquet table loaders for the driver's synthetic TPC-H-ish tables."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def ensure_session_confs(spark: SparkSession) -> None:
    """Self-heal an externally-created SparkSession (the driver harness
    passes its own): the confs every query depends on are all
    runtime-settable. Idempotent, called from load_table."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")


#: ((path, size, mtime_ns) → StructType) parquet-footer memo — metadata
#: only, see load_table. The stat stamp makes a table rewritten under the
#: same path miss the memo instead of keeping its old schema.
_SCHEMA_CACHE: dict = {}


def _schema_key(path: str):
    """Memo key for ``path``, or None when it cannot be stat'ed (a remote
    URI, or a missing path that Spark should report itself)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (path, st.st_size, st.st_mtime_ns)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table. Parquet → full predicate pushdown and
    column pruning from Catalyst; no schema inference needed (parquet is
    self-describing).

    ``events.ts`` is normalized to a session-UTC ``TimestampType``
    regardless of how the driver generated the parquet that round:
    TIMESTAMP(NANOS) (with ``nanosAsLong`` it arrives as int64 nanos,
    truncated here to µs exactly as DuckDB truncates) or timestamp[us]
    without tz (arrives TIMESTAMP_NTZ; a cast under the UTC session tz
    is value-preserving), keeping every downstream query
    oracle-comparable.

    The parquet schema is memoized per (sf_dir, name) (round-17,
    guide §1.2): without an explicit schema every ``read.parquet``
    launches a footer-read job at PLAN-CONSTRUCTION time, so a query
    referencing N tables paid N driver jobs per invocation before any
    data moved. The cache holds metadata only (a StructType — never
    rows) and is per-process. It is keyed on the path's size and mtime,
    so a table rewritten in place is re-read; a path that cannot be
    stat'ed is never memoized."""
    ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = _schema_key(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, T.LongType):
            # `ts div 1000` is integer division on the int64 nanos. A float
            # division (`/ 1000` then cast) would promote ~1.7e18 values past
            # double's 2^53 exact range and can land 1 µs off DuckDB's exact
            # integer truncation — enough to flip boundary `within` checks.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            # Cast to the concrete LTZ type, not the "timestamp" alias: the
            # alias resolves via spark.sql.timestampType, so a caller setting
            # that conf to TIMESTAMP_NTZ would make the cast a silent no-op.
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition to the session's default parallelism ahead of a
    CPU-heavy per-row pipeline (higher-order functions / md5 hashing
    evaluate interpreted, outside whole-stage codegen).

    Rationale: the synthetic tables arrive as one parquet row group →
    one task, which serializes interpreted compute locally. Results
    never depend on partitioning.

    Round-16 optimization note (guide §2.4 — "a repartition(n) someone
    added for parallelism" is the canonical accidental Exchange): on a
    real cluster the scan already has hundreds-to-thousands of splits
    and this repartition would shuffle the ENTIRE corpus (raw
    text/embedding payloads — the heaviest bytes in the job) to gain
    nothing. ``SPARK_GRAFT_SPREAD=never`` disables it for such
    deployments; downstream keyed operators (windows, aggregations)
    then establish their own key partitioning at the same
    single-exchange cost the spread would have paid. The default stays
    ``always`` — correct for the single-row-group local layout and
    keeps the driver's bench comparable. (A per-call runtime probe of
    the scan's split count was measured at ~0.2–0.45 s of driver
    plan-conversion per invocation — more than the repartition costs
    locally — hence an explicit deployment knob, not autodetection.)"""
    if _env_choice("SPARK_GRAFT_SPREAD", "always", ("always", "never")) == (
        "never"
    ):
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *key_cols) if key_cols else df.repartition(n)


def _env_choice(name: str, default: str, allowed: tuple[str, ...]) -> str:
    """Read a deployment-knob env var, REJECTING unrecognized values
    (ADVICE r16: ``SPARK_GRAFT_SPREAD=off`` silently kept the
    full-corpus repartition on the very deployment the knob exists to
    protect — fail loud instead)."""
    v = os.environ.get(name, default)
    if v not in allowed:
        raise ValueError(
            f"{name}={v!r}: expected one of {sorted(allowed)}"
        )
    return v


def materialize(df: DataFrame) -> DataFrame:
    """Materialization boundary for a CORPUS-SIZED intermediate that
    several downstream branches re-read (guide §1.2: one pass, not one
    per branch).

    ``SPARK_GRAFT_MATERIALIZE=local`` (default): ``localCheckpoint``
    — eager executor-local blocks. Fastest locally, but the blocks
    are unreplicated and lineage is truncated, so on a real cluster
    an executor loss makes every downstream action fail unrecoverably
    (guide §5) — acceptable only for small/mid intermediates or
    single-machine runs.

    ``SPARK_GRAFT_MATERIALIZE=persist``: ``persist(DISK_ONLY)`` + an
    eager ``count()`` — blocks on local disk, lineage RETAINED, so a
    lost block is recomputed from source instead of killing the job;
    the cluster-safe form for corpus-scale intermediates. (The plan
    then shows an InMemoryTableScan instead of an ExistingRDD scan;
    results are identical — pinned by tests/test_r17_optimizations.py.)
    """
    mode = _env_choice(
        "SPARK_GRAFT_MATERIALIZE", "local", ("local", "persist")
    )
    if mode == "persist":
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.DISK_ONLY)
        df.count()
        return df
    return df.localCheckpoint(eager=True)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every synthetic table as a temp view for spark.sql use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
