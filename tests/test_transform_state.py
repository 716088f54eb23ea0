"""CUSUM drift operator tests. The batch form (mapInPandas) and the
streaming form (applyInPandasWithState) share one kernel, and each must
match an INDEPENDENT hand-written recurrence exactly (scaled-integer state
-> no float tolerance)."""

from pyspark.sql import types as T

from aws_vpc_flow_log_appender_spark.streaming.transform_state import (
    CUSUM_H_MILLI,
    CUSUM_K_MILLI,
    cusum_drift_batch,
    cusum_drift_stream,
)

SCHEMA = T.StructType([
    T.StructField("seq", T.LongType()),
    T.StructField("interface-id", T.StringType()),
    T.StructField("bytes", T.LongType()),
])

# two micro-batches (one file each); eni-a drifts upward in batch 2
B1 = [(1, "eni-a", 100), (2, "eni-a", 110), (3, "eni-b", 50), (4, "eni-a", 90)]
B2 = [(5, "eni-a", 900), (6, "eni-a", 950), (7, "eni-b", 55), (8, "eni-a", 1000)]


def _independent_reference():
    """Recompute the expected per-key state with a recurrence written from
    the CUSUM definition, NOT imported from the module under test."""
    expected = {}
    for seq, key, b in sorted(B1 + B2):
        n, mean_m, cpos, cneg = expected.get(key, (0, 0, 0, 0))
        v = b * 1000
        n += 1
        # integer running mean, floor toward -inf like Python //
        mean_m = mean_m + (v - mean_m) // n
        cpos = max(0, cpos + (v - mean_m - CUSUM_K_MILLI))
        cneg = max(0, cneg + (mean_m - v - CUSUM_K_MILLI))
        expected[key] = (n, mean_m, cpos, cneg)
    return expected


def test_cusum_batch_twin_matches_independent_reference(spark):
    df = spark.createDataFrame(B1 + B2, SCHEMA)
    got = {
        r["key"]: (
            r["n"], r["mean_milli"], r["cusum_pos_milli"], r["cusum_neg_milli"],
            r["alert"],
        )
        for r in cusum_drift_batch(df).collect()
    }
    for key, state in _independent_reference().items():
        assert got[key][:4] == state, (key, got[key], state)
        expect_alert = 1 if (state[2] > CUSUM_H_MILLI or state[3] > CUSUM_H_MILLI) else 0
        assert got[key][4] == expect_alert
    # the engineered level shift on eni-a must alert; quiet eni-b must not
    assert got["eni-a"][4] == 1
    assert got["eni-b"][4] == 0


def test_cusum_batch_twin_streams_across_arrow_chunks(spark):
    """The partition fold must carry (key, state) across Arrow batch
    boundaries instead of concatenating the partition (code-review r6:
    worker memory must stay one Arrow batch). Force 2-row Arrow batches so
    every key's run spans several chunks and a chunk boundary falls both
    mid-key and exactly on a key change; the result must still match the
    independent reference."""
    saved = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        df = spark.createDataFrame(B1 + B2, SCHEMA).coalesce(1)
        got = {
            r["key"]: (
                r["n"], r["mean_milli"], r["cusum_pos_milli"],
                r["cusum_neg_milli"],
            )
            for r in cusum_drift_batch(df).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", saved)
    for key, state in _independent_reference().items():
        assert got[key] == state, (key, got[key], state)


def test_cusum_stream_carries_state_across_batches(spark, tmp_path):
    """The streaming CUSUM must reproduce the independent reference after
    two file-triggered micro-batches, proving state carry (batch 2
    continues batch 1's fold, not a fresh one)."""
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(B1, SCHEMA).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(B2, SCHEMA).coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    q = (
        cusum_drift_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("cusum_stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM cusum_stream_out").collect()

    # update-mode memory sink appends one row per key per batch; the LAST
    # row per key is the final state
    final = {}
    for r in rows:
        final[r["key"]] = (
            r["n"], r["mean_milli"], r["cusum_pos_milli"], r["cusum_neg_milli"],
        )
    # eni-a appears in both batches -> must have been emitted twice with
    # growing n (state carry, not recompute)
    a_rows = [r["n"] for r in rows if r["key"] == "eni-a"]
    assert sorted(a_rows) == [3, 6], a_rows
    for key, state in _independent_reference().items():
        assert final[key] == state, (key, final[key], state)
