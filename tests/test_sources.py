"""Table-loader contracts: the normalized ``events.ts`` column must be
session-timezone TIMESTAMP_LTZ regardless of how the parquet was
written AND regardless of session configuration — every oracle
comparison depends on it."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from flink_cep_examples_spark.sources.tables import load_table


def test_events_ts_is_ltz_under_ntz_session_conf(spark, sf_small):
    """ADVICE r2: ``cast("timestamp")`` resolves via
    spark.sql.timestampType, so a caller setting that conf to
    TIMESTAMP_NTZ silently made the normalization a no-op. The loader
    must pin the concrete LTZ type independent of the conf."""
    saved = spark.conf.get("spark.sql.timestampType")
    spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    try:
        df = load_table(spark, sf_small, "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        # and the values still read under the pinned UTC session tz
        assert df.limit(1).collect()[0].ts is not None
    finally:
        spark.conf.set("spark.sql.timestampType", saved)


@pytest.mark.parametrize("name", ["events", "documents", "embeddings"])
def test_loader_self_heals_plain_session(spark, sf_small, name):
    """load_table must work (and set its required confs) even when the
    session was created externally without engine configs — the driver
    harness passes its own SparkSession."""
    df = load_table(spark, sf_small, name)
    assert df.count() > 0
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_schema_memo_sees_table_rewritten_in_place(spark, tmp_path):
    """The footer-schema memo must not outlive the table it describes: a
    table overwritten under the same path with an extra column is loaded
    with the new schema, not the memoized old one."""
    sf_dir = str(tmp_path)
    path = f"{sf_dir}/region.parquet"
    spark.createDataFrame([(1, "a")], "r_id int, r_name string").write.parquet(
        path
    )
    assert load_table(spark, sf_dir, "region").columns == ["r_id", "r_name"]

    spark.createDataFrame(
        [(1, "a", "x")], "r_id int, r_name string, r_comment string"
    ).write.mode("overwrite").parquet(path)
    df = load_table(spark, sf_dir, "region")
    assert df.columns == ["r_id", "r_name", "r_comment"]
    assert df.collect()[0].r_comment == "x"
