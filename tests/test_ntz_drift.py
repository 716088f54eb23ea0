"""Regression guard for the round-2 driver environment drift: on some hosts
the events parquet's ts column resolves as TIMESTAMP_NTZ (parquet TIMESTAMP
with isAdjustedToUTC=false) instead of the local TIMESTAMP(NANOS)-as-bigint
path. Every unix_micros(ts) / withWatermark("ts", ...) consumer rejects NTZ
(DATATYPE_MISMATCH / EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), which broke
ts_sessionize, window_lag_lead, and all four watermark streaming tests in
round 2. registry.load must normalize NTZ -> TIMESTAMP (value-preserving:
session TZ is pinned UTC). These tests write a native-NTZ events parquet and
drive the ts-consuming surface through it so the drift can't silently return.
"""

import pytest
from pyspark.sql import functions as F

from aws_vpc_flow_log_appender_spark.operators.registry import (
    QUERY_REGISTRY,
    load,
)
import aws_vpc_flow_log_appender_spark.operators  # noqa: F401  (registers)
import aws_vpc_flow_log_appender_spark.streaming.queries  # noqa: F401


@pytest.fixture(scope="module")
def ntz_sf_dir(spark, sf_dir, tmp_path_factory):
    """An sf-dir whose events.parquet stores ts as native TIMESTAMP_NTZ —
    the exact physical layout of the round-2 driver host."""
    out = tmp_path_factory.mktemp("ntz_sf")
    events = load(spark, sf_dir, "events")
    events.withColumn("ts", F.col("ts").cast("timestamp_ntz")).write.mode(
        "overwrite"
    ).parquet(str(out / "events.parquet"))
    # premise check: a raw (non-load) read must surface timestamp_ntz,
    # otherwise this fixture no longer reproduces the drift
    raw = spark.read.parquet(str(out / "events.parquet"))
    assert dict(raw.dtypes)["ts"] == "timestamp_ntz"
    return str(out)


def test_load_normalizes_ntz_to_timestamp(spark, ntz_sf_dir):
    df = load(spark, ntz_sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_load_ntz_values_match_source(spark, sf_dir, ntz_sf_dir):
    """The NTZ->LTZ cast must be value-preserving under the pinned UTC
    session TZ: identical epoch micros row-for-row."""
    a = load(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("us")
    )
    b = load(spark, ntz_sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("us")
    )
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


@pytest.mark.parametrize(
    "name",
    ["ts_sessionize", "window_lag_lead", "ts_tumbling_window", "ts_ewma"],
)
def test_ts_consumers_run_on_ntz_events(spark, sf_dir, ntz_sf_dir, name):
    """The round-2 driver failures (and a sample of other ts consumers) must
    produce identical results whether events.ts arrives NTZ or not."""
    fn = QUERY_REGISTRY[name].fn
    got = fn(spark, ntz_sf_dir)
    ref = fn(spark, sf_dir)
    assert got.schema == ref.schema
    assert got.exceptAll(ref).isEmpty() and ref.exceptAll(got).isEmpty()


def test_watermark_stream_runs_on_ntz_events(spark, ntz_sf_dir, tmp_path):
    """withWatermark('ts', ...) must work downstream of load() on an
    NTZ-sourced events table (the round-2 streaming failure mode)."""
    from aws_vpc_flow_log_appender_spark.streaming import tumbling_counts_stream

    events = load(spark, ntz_sf_dir, "events")
    staged = str(tmp_path / "staged")
    events.write.mode("overwrite").parquet(staged)
    stream = spark.readStream.schema(events.schema).parquet(staged)
    q = (
        tumbling_counts_stream(stream.withWatermark("ts", "0 seconds"))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ntz_wm_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.sql("SELECT * FROM ntz_wm_out").count() > 0
    spark.catalog.dropTempView("ntz_wm_out")
