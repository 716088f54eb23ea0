"""Structured Streaming wrapper for the flagship pipeline.

The reference's streaming topology (SURVEY §2.8): one Firehose buffer = one
micro-batch; the ENI dimension is rebuilt from the EC2 API *every invocation*
(decorator/index.js:246, 82-93). Here:

 - `readStream` text source (stands in for Kinesis; swap `.format()` for a
   real deployment — the transform is source-agnostic)
 - `foreachBatch` runs the decorate pipeline per micro-batch, re-invoking the
   ENI provider each time = per-batch refreshed stream-static join
 - checkpointing + an idempotent (recordId-keyed) sink upgrade the
   reference's at-least-once-with-duplicate-amplification semantics
   (ingestor/index.js:137-140) to effectively-exactly-once
 - enrichment failures degrade to defaults (never fail the batch — the
   reference's June-2017 geocode fix, README.md:145, as a design rule)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..enrich import flatten_geo_dim
from ..pipeline import decorate_lines


def stream_decorate(
    spark: SparkSession,
    input_path: str,
    eni_provider: Callable[[SparkSession], DataFrame],
    geo_dim: DataFrame,
    checkpoint_dir: str,
    output_path: str,
    geolocation_enabled: bool = True,
    available_now: bool = True,
):
    """Start the streaming decorate pipeline; returns the StreamingQuery.

    ``eni_provider`` is called once per micro-batch (the reference rebuilds
    the ENI mapping per Lambda invocation); in production it wraps the EC2
    DescribeNetworkInterfaces call, in tests a fixture DataFrame factory.
    """
    lines = spark.readStream.format("text").load(input_path)
    # the geo dim is static for the stream's lifetime: group its ranges into
    # prefix-bucket rows ONCE here instead of in every micro-batch, at a
    # bucket width sized to the ranges (a third of the /16 broadcast on
    # flowbench's dimension; the probe reads the width off the result).
    # persist(), NOT localCheckpoint(): checkpoint blocks live in
    # unreplicated executor storage with TRUNCATED lineage, so on a real
    # cluster one lost executor hours into a long-running stream would fail
    # every subsequent micro-batch unrecoverably (code-review r6 — the same
    # failure mode queries.py's _read_back already closed). persist keeps
    # the recomputable plan: a lost block is rebuilt from the dimension
    # source at the cost of one re-prep.
    geo_flat = flatten_geo_dim(geo_dim).persist() if geolocation_enabled else geo_dim

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        eni_dim = eni_provider(spark)  # per-batch dimension refresh
        out = decorate_lines(batch_df, eni_dim, geo_flat,
                             geolocation_enabled=geolocation_enabled,
                             unique_ids=True,
                             geo_dim_is_disjoint=True)
        # idempotent-by-epoch sink: each micro-batch owns its own partition
        # directory and a replayed batch OVERWRITES it — a partial write
        # followed by retry cannot duplicate rows (a blind append could).
        out.write.mode("overwrite").parquet(f"{output_path}/epoch={epoch_id}")

    writer = (
        lines.writeStream
        .foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
