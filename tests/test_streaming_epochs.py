"""Multi-epoch streaming incrementality (r5, VERDICT_r04 ask #4).

The registry's stream_* queries consume their staged input in ONE
availableNow pass, so they prove batch/stream result equivalence but never
exercise state TRANSITIONS across micro-batches. These tests stage the input
as N files, force one file per micro-batch (``maxFilesPerTrigger=1``), and
assert the per-epoch output EVOLUTION:

 - CDC upsert (the stream_latest_per_key shape): each epoch's complete-mode
   state must equal the batch latest-per-key answer over exactly the prefix
   of files consumed so far — true upsert (values replaced epoch over
   epoch), converging to the full batch answer.
 - watermark late-data drop (the append tumbling-window shape): a row
   arriving after its window was emitted + evicted in an EARLIER epoch must
   be DROPPED (no merge, no duplicate emission), every window is emitted
   exactly once, and trailing windows the final watermark never passed are
   withheld — correct append semantics, not data loss.

PINNED EMPIRICALLY (the boundary Spark actually implements, verified on
this engine): a late row whose window state is STILL LIVE — the watermark
passes the window end in the same batch the row arrives — is MERGED before
the window flushes; the drop only happens once the window has been emitted
and its state evicted in a strictly earlier batch. The late-drop fixture
therefore stages three files so the target window is flushed one full
epoch before the late row shows up.

File order is pinned via explicit mtimes: FileStreamSource picks files
oldest-first (modification timestamp, path tiebreak), which the fixture
makes deterministic.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType(), False),
    T.StructField("user_id", T.LongType(), False),
    T.StructField("ts", T.TimestampType(), False),
    T.StructField("value", T.DoubleType(), False),
])

BASE_US = 1_700_000_000_000_000  # fixed epoch anchor (no wall-clock in data)


def _write_epoch_file(spark, path: str, epoch: int, n_users: int,
                      mtime: float) -> None:
    """One slice: every user gets one event at hour `epoch` with
    value=epoch, so each later file strictly supersedes the earlier state
    for EVERY key (the pure-upsert worst case)."""
    rows = [
        (epoch * n_users + u, u, epoch, float(epoch))
        for u in range(n_users)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, h int, value double"
    ).select(
        "event_id", "user_id",
        F.timestamp_micros(
            F.lit(BASE_US) + F.col("h").cast("long") * 3_600_000_000
        ).alias("ts"),
        "value",
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)
    for name in os.listdir(path):
        os.utime(os.path.join(path, name), (mtime, mtime))
    os.utime(path, (mtime, mtime))


def test_latest_per_key_upserts_across_epochs(spark, tmp_path):
    n_users, n_epochs = 8, 3
    src = tmp_path / "src"
    src.mkdir()
    now = time.time()
    for e in range(n_epochs):
        _write_epoch_file(
            spark, str(src / f"slice_{e}.parquet"), e, n_users,
            mtime=now - 600 + e * 100,
        )
    # parquet dirs as files-in-a-dir source: point the stream at the glob of
    # part files so each slice dir's single part file is one source file
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/slice_*.parquet")
    )
    agg = (
        stream.groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    F.unix_micros("ts").alias("us"),
                    F.col("event_id").alias("eid"),
                    F.col("value").alias("v"),
                )
            ).alias("last")
        )
        .select(
            "user_id",
            F.col("last.us").alias("last_ts_us"),
            F.col("last.v").alias("last_value"),
        )
    )
    epochs: dict[int, list] = {}

    def capture(df, epoch_id: int) -> None:
        epochs[epoch_id] = df.collect()

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(capture)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish"

    assert len(epochs) == n_epochs, f"expected {n_epochs} micro-batches"
    ordered = [epochs[k] for k in sorted(epochs)]
    # epoch e == batch latest-per-key over files 0..e: every user present,
    # value == e (PURE upsert: the whole state replaced each epoch)
    for e, rows in enumerate(ordered):
        state = {r["user_id"]: r for r in rows}
        assert len(state) == n_users, f"epoch {e}: missing keys"
        for u in range(n_users):
            assert state[u]["last_value"] == float(e), (
                f"epoch {e}, user {u}: state {state[u]['last_value']} "
                f"is not the prefix-batch answer {float(e)}"
            )
            assert state[u]["last_ts_us"] == BASE_US + e * 3_600_000_000
    # monotone per-key event time across epochs (upsert never regresses)
    for u in range(n_users):
        ts_seq = [
            {r["user_id"]: r for r in rows}[u]["last_ts_us"]
            for rows in ordered
        ]
        assert ts_seq == sorted(ts_seq)


def test_append_window_drops_late_rows_across_epochs(spark, tmp_path):
    """Three files, one per micro-batch. A: on-time events in hours 0..2.
    B: one hour-3 event (its processing batch carries watermark 1h30m from
    A, flushing + evicting the hour-0 window with the on-time count). C:
    one LATE hour-0 event — its window is now gone, so it must be dropped
    (no merge, no re-emission) — plus an hour-4 event. Trailing windows
    behind the final watermark stay withheld."""
    src = tmp_path / "src"
    src.mkdir()
    now = time.time()
    # hour-ALIGNED base so window starts land exactly on ALIGNED + k*h
    aligned_us = (BASE_US // 3_600_000_000 + 1) * 3_600_000_000

    def mk(path, rows, mtime):
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, us long, value double"
        ).select(
            "event_id", "user_id",
            F.timestamp_micros(F.lit(aligned_us) + F.col("us")).alias("ts"),
            "value",
        )
        df.coalesce(1).write.mode("overwrite").parquet(path)
        for name in os.listdir(path):
            os.utime(os.path.join(path, name), (mtime, mtime))
        os.utime(path, (mtime, mtime))

    h = 3_600_000_000
    file_a = [
        (0, 1, 0 * h, 1.0),
        (1, 2, 0 * h + 60_000_000, 1.0),
        (2, 1, 1 * h, 1.0),
        (3, 2, 2 * h, 1.0),
    ]
    file_b = [(5, 2, 3 * h, 1.0)]             # flushes + evicts hour-0
    file_c = [
        (6, 1, 0 * h + 120_000_000, 100.0),   # LATE: hour-0 already evicted
        (7, 2, 4 * h, 1.0),
    ]
    mk(str(src / "slice_a.parquet"), file_a, now - 600)
    mk(str(src / "slice_b.parquet"), file_b, now - 500)
    mk(str(src / "slice_c.parquet"), file_c, now - 400)

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/slice_*.parquet")
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .select(
            ((F.unix_micros(F.col("window.start")) - aligned_us) / h)
            .cast("long").alias("win_h"),
            "n", "v",
        )
    )
    epochs: dict[int, list] = {}

    def capture(df, epoch_id: int) -> None:
        epochs[epoch_id] = df.collect()

    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(capture)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish"

    by_win: dict[int, dict] = {}
    for rows in epochs.values():
        for r in rows:
            assert r["win_h"] not in by_win, (
                f"window {r['win_h']} emitted more than once"
            )
            by_win[r["win_h"]] = r
    # hour-0 window: emitted once, ON-TIME count only (2 rows, value 2.0) —
    # the late 100.0-valued row arrived after eviction and was dropped,
    # not merged, not re-emitted
    w0 = by_win.get(0)
    assert w0 is not None, "hour-0 window never emitted"
    assert w0["n"] == 2 and w0["v"] == 2.0, (
        f"late row leaked into finalized window: {w0}"
    )
    # the dropped row's value must appear NOWHERE in the output
    assert all(r["v"] < 100.0 for r in by_win.values())
    # exact emission set: final watermark is 4h - 30m = 3h30m, so windows
    # ending at 1h/2h/3h are out, hour-3 (end 4h) and hour-4 are withheld
    assert set(by_win) == {0, 1, 2}, by_win
    assert by_win[1]["n"] == 1 and by_win[2]["n"] == 1
    # multi-epoch actually happened (one file per micro-batch + final flush)
    assert len(epochs) >= 3


def test_session_window_finalizes_across_epochs(spark, tmp_path):
    """Session windows under maxFilesPerTrigger=1: a session closes only
    when a LATER epoch's watermark passes its end (last event + gap), is
    emitted exactly once with the full event count, and the newest session
    stays withheld behind the final watermark — the epoch-resolved twin of
    the availableNow-only stream_session_window oracle check."""
    src = tmp_path / "src"
    src.mkdir()
    now = time.time()
    aligned_us = (BASE_US // 3_600_000_000 + 1) * 3_600_000_000
    h = 3_600_000_000
    m = 60_000_000

    def mk(path, rows, mtime):
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, us long, value double"
        ).select(
            "event_id", "user_id",
            F.timestamp_micros(F.lit(aligned_us) + F.col("us")).alias("ts"),
            "value",
        )
        df.coalesce(1).write.mode("overwrite").parquet(path)
        for name in os.listdir(path):
            os.utime(os.path.join(path, name), (mtime, mtime))
        os.utime(path, (mtime, mtime))

    # session 1: two events 10 min apart (one session, 30-min gap);
    # session 2 starts 2h in (watermark 1h: processing B flushes session 1);
    # session 3 at 4h (flushes session 2; itself withheld at end)
    mk(str(src / "slice_a.parquet"),
       [(0, 1, 0, 1.0), (1, 1, 10 * m, 1.0)], now - 600)
    mk(str(src / "slice_b.parquet"), [(2, 1, 2 * h, 1.0)], now - 500)
    mk(str(src / "slice_c.parquet"), [(3, 1, 4 * h, 1.0)], now - 400)

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/slice_*.parquet")
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            ((F.unix_micros(F.col("session_window.start")) - aligned_us) / m)
            .cast("long").alias("start_min"),
            ((F.unix_micros(F.col("session_window.end")) - aligned_us) / m)
            .cast("long").alias("end_min"),
            "n_events",
        )
    )
    epochs: dict[int, list] = {}

    def capture(df, epoch_id: int) -> None:
        epochs[epoch_id] = df.collect()

    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(capture)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish"

    emitted = {}
    for rows in epochs.values():
        for r in rows:
            key = (r["start_min"], r["end_min"])
            assert key not in emitted, f"session {key} emitted twice"
            emitted[key] = r["n_events"]
    # session 1 = [0, 10+30) min with BOTH events, exactly once
    assert emitted.get((0, 40)) == 2, emitted
    # session 2 = [120, 150) min, one event — final watermark (4h - 1h = 3h)
    # passed its end, so it must be out
    assert emitted.get((120, 150)) == 1, emitted
    # session 3 (4h) never finalizes: watermark stops at 3h
    assert all(start < 240 for start, _ in emitted), emitted
    assert len(epochs) >= 3


def test_stateful_restart_recovers_state_from_checkpoint(spark, tmp_path):
    """Mid-stream restart (VERDICT r5 "Next round" #6): run the stateful
    upsert over a PREFIX of the input with a durable checkpoint, stop the
    query (the deterministic 'kill between epochs'), add more files, and
    resume a NEW query object from the SAME checkpoint. Must hold:
     - the resumed run processes ONLY the unread files (batch ids continue
       where run 1 stopped — no epoch re-executed, no double-emission);
     - keys untouched by run-2 files still carry their run-1 values in
       run 2's FIRST epoch (state restored from the checkpoint's state
       store, not recomputed from re-read input);
     - the final state equals the batch latest-per-key answer over ALL
       files (restart-transparent end state)."""
    n_users = 6
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    now = time.time()

    def mk(i, users, value_h):
        rows = [(value_h * 100 + u, u, value_h, float(value_h))
                for u in users]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, h int, value double"
        ).select(
            "event_id", "user_id",
            F.timestamp_micros(
                F.lit(BASE_US) + F.col("h").cast("long") * 3_600_000_000
            ).alias("ts"),
            "value",
        )
        p = str(src / f"slice_{i}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(p)
        for name in os.listdir(p):
            os.utime(os.path.join(p, name), (now - 600 + i * 100,) * 2)
        os.utime(p, (now - 600 + i * 100,) * 2)

    def run(expect_epochs):
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/slice_*.parquet")
        )
        agg = (
            stream.groupBy("user_id")
            .agg(F.max(F.struct(
                F.unix_micros("ts").alias("us"),
                F.col("event_id").alias("eid"),
                F.col("value").alias("v"),
            )).alias("last"))
            .select("user_id", F.col("last.v").alias("last_value"))
        )
        epochs: dict[int, dict] = {}

        def capture(df, epoch_id: int) -> None:
            epochs[epoch_id] = {r["user_id"]: r["last_value"]
                                for r in df.collect()}

        q = (
            agg.writeStream.outputMode("complete")
            .option("checkpointLocation", ckpt)
            .foreachBatch(capture)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "stream did not finish"
        assert len(epochs) == expect_epochs, epochs.keys()
        return epochs

    # run 1: two files, then the query stops (availableNow drains + exits —
    # the clean 'kill between epochs')
    mk(0, range(n_users), 0)       # everyone at value 0
    mk(1, [0, 1, 2], 1)            # users 0-2 upserted to 1
    run1 = run(expect_epochs=2)
    assert sorted(run1) == [0, 1]
    assert run1[1] == {0: 1.0, 1: 1.0, 2: 1.0, 3: 0.0, 4: 0.0, 5: 0.0}

    # files arriving while the query is down
    mk(2, [3, 4], 2)               # users 3-4 upserted to 2
    mk(3, [5], 3)                  # user 5 upserted to 3

    # run 2: SAME checkpoint, new query object. Batch ids must CONTINUE
    # (2, 3) — ids 0/1 re-appearing would mean epochs re-executed.
    run2 = run(expect_epochs=2)
    assert sorted(run2) == [2, 3], "resumed run re-executed old epochs"
    # first resumed epoch: users 0-2 still at their run-1 value 1.0 even
    # though no run-2 file mentions them — state came from the checkpoint
    assert run2[2] == {0: 1.0, 1: 1.0, 2: 1.0, 3: 2.0, 4: 2.0, 5: 0.0}
    # final state == batch latest-per-key over all four files
    batch = {
        r["user_id"]: r["last_value"]
        for r in spark.read.parquet(str(src) + "/slice_*.parquet")
        .groupBy("user_id")
        .agg(F.max(F.struct(
            F.unix_micros("ts").alias("us"),
            F.col("event_id").alias("eid"),
            F.col("value").alias("v"),
        )).alias("last"))
        .select("user_id", F.col("last.v").alias("last_value"))
        .collect()
    }
    assert run2[3] == batch == {0: 1.0, 1: 1.0, 2: 1.0, 3: 2.0, 4: 2.0, 5: 3.0}


def test_flagship_stream_restart_is_exactly_once(spark, tmp_path):
    """Append-mode restart for the stateless flagship enrichment: stop after
    a prefix of files, resume from the same checkpoint with new files
    staged, and the union of rows across BOTH runs must equal the batch
    enrichment of all lines as a multiset — nothing re-emitted after the
    restart, nothing lost across it."""
    from aws_vpc_flow_log_appender_spark import fixtures
    from aws_vpc_flow_log_appender_spark.parse import parse_lines
    from aws_vpc_flow_log_appender_spark.pipeline import enrich_flow_logs

    lines = fixtures.make_lines(60)
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    now = time.time()
    sizes = (15, 20, 25)

    def stage(i, chunk):
        df = spark.createDataFrame([(ln,) for ln in chunk], "value string")
        p = str(src / f"slice_{i}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(p)
        for name in os.listdir(p):
            os.utime(os.path.join(p, name), (now - 600 + i * 100,) * 2)
        os.utime(p, (now - 600 + i * 100,) * 2)

    def run():
        stream = (
            spark.readStream.schema("value string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/slice_*.parquet")
        )
        enriched = enrich_flow_logs(
            parse_lines(stream), fixtures.eni_dim_df(spark),
            fixtures.geo_dim_flat_df(spark), geo_dim_is_disjoint=True,
        ).select("recordId", "action")
        epochs: dict[int, list] = {}

        def capture(df, epoch_id: int) -> None:
            epochs[epoch_id] = df.collect()

        q = (
            enriched.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(capture)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "stream did not finish"
        return epochs

    stage(0, lines[:15])
    run1 = run()
    assert sorted(len(v) for v in run1.values()) == [15]
    stage(1, lines[15:35])
    stage(2, lines[35:60])
    run2 = run()
    assert sorted(run2) > sorted(run1), "batch ids must continue, not reset"
    assert sorted(len(v) for v in run2.values()) == [20, 25]

    batch = enrich_flow_logs(
        parse_lines(spark.createDataFrame([(ln,) for ln in lines], "value string")),
        fixtures.eni_dim_df(spark), fixtures.geo_dim_flat_df(spark),
        geo_dim_is_disjoint=True,
    ).select("recordId", "action").collect()
    stream_ms = sorted(
        (r["recordId"], r["action"])
        for rows in list(run1.values()) + list(run2.values())
        for r in rows
    )
    assert stream_ms == sorted((r["recordId"], r["action"]) for r in batch)


def test_flagship_stream_appends_each_epoch_exactly_once(spark, tmp_path):
    """The stateless flagship pipeline under maxFilesPerTrigger=1: each
    micro-batch must enrich EXACTLY its own file's lines (no recompute or
    re-emission of earlier epochs), and the union across epochs must equal
    the batch answer on the same lines — the epoch-resolved complement to
    the availableNow-only stream_flowlog_enrich oracle check."""
    from aws_vpc_flow_log_appender_spark import fixtures
    from aws_vpc_flow_log_appender_spark.parse import parse_lines
    from aws_vpc_flow_log_appender_spark.pipeline import enrich_flow_logs

    lines = fixtures.make_lines(90)
    src = tmp_path / "src"
    src.mkdir()
    now = time.time()
    sizes = (20, 30, 40)
    off = 0
    for i, n in enumerate(sizes):
        df = spark.createDataFrame(
            [(ln,) for ln in lines[off:off + n]], "value string"
        )
        p = str(src / f"slice_{i}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(p)
        for name in os.listdir(p):
            os.utime(os.path.join(p, name), (now - 600 + i * 100,) * 2)
        os.utime(p, (now - 600 + i * 100,) * 2)
        off += n

    stream = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/slice_*.parquet")
    )
    parsed = parse_lines(stream)
    enriched = enrich_flow_logs(
        parsed, fixtures.eni_dim_df(spark), fixtures.geo_dim_flat_df(spark),
        geo_dim_is_disjoint=True,
    ).select("recordId", "action")
    epochs: dict[int, list] = {}

    def capture(df, epoch_id: int) -> None:
        epochs[epoch_id] = df.collect()

    q = (
        enriched.writeStream.outputMode("append")
        .foreachBatch(capture)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish"

    per_epoch = [len(epochs[k]) for k in sorted(epochs)]
    assert sorted(per_epoch) == sorted(sizes), per_epoch
    # multiset equality with the BATCH enrichment of the same lines:
    # recordId is a content hash (make_lines contains repeats), so compare
    # sorted multisets, not distinct sets — each input row enriched exactly
    # once means the multisets match exactly
    batch = enrich_flow_logs(
        parse_lines(spark.createDataFrame([(ln,) for ln in lines], "value string")),
        fixtures.eni_dim_df(spark), fixtures.geo_dim_flat_df(spark),
        geo_dim_is_disjoint=True,
    ).select("recordId", "action").collect()
    stream_ms = sorted((r["recordId"], r["action"])
                       for rows in epochs.values() for r in rows)
    batch_ms = sorted((r["recordId"], r["action"]) for r in batch)
    assert stream_ms == batch_ms


def test_stream_stream_left_outer_null_emission_is_watermark_gated(spark):
    """The second stream-stream semantics class (left_outer): an unmatched
    left row is emitted with NULL right columns ONLY once the watermark
    proves no match can still arrive (passes c_ts + interval), and a row
    whose proof the final watermark never reaches is NOT emitted at all —
    outer results are eventually-complete per the watermark contract, not
    run-complete.

    Fixture (slices ascending by mtime, one per micro-batch; interval 1h,
    watermark 10min):
     - slice 0: u1 click T0 + matching purchase T0+30m (inner pair);
       u2 click T0 with NO purchase (no-match bound T0+1h);
       u3 click T0+3h with NO purchase (bound T0+4h).
     - slices 1-2: lone purchases at T0+10h / T0+10h+1m — they advance
       only the RIGHT column watermark; the LEFT column watermark (each
       branch's withWatermark sits after its type filter) tops out at
       max click ts - 10min = T0+2h50m, and the eviction watermark is the
       min of the two columns. u2's bound sits below it, u3's above.
    Expected: exactly {u1 matched pair, u2 NULL-padded}; u3 withheld
    because the PER-COLUMN-MIN final watermark never reaches its bound
    (availableNow's trailing cleanup batch applies the final watermark,
    pinned quantitatively by stream_interval_join_outer's oracle at
    sf0.001 — so the lag alone would not have protected u3); unmatched
    right rows never preserved (left join)."""
    from aws_vpc_flow_log_appender_spark.streaming.joins import (
        stream_stream_interval_join,
    )
    from aws_vpc_flow_log_appender_spark.streaming.queries import (
        _run_stream,
    )

    T0 = BASE_US
    MIN = 60_000_000
    rows = [
        # (event_id, user_id, event_type, ts_us, epoch)
        (1, 1, "click", T0, 0),
        (2, 1, "purchase", T0 + 30 * MIN, 0),
        (3, 2, "click", T0, 0),
        (4, 3, "click", T0 + 180 * MIN, 0),
        (5, 99, "purchase", T0 + 600 * MIN, 1),
        (6, 99, "purchase", T0 + 601 * MIN, 2),
    ]
    staged = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
              "ts_us long, epoch int"
    ).select(
        "event_id", "user_id", "event_type",
        F.timestamp_micros("ts_us").alias("ts"), "epoch",
    )

    out = _run_stream(
        spark, staged, "test_ssj_outer",
        lambda s: stream_stream_interval_join(s, how="left_outer"),
        n_slices=3,
    ).collect()

    got = {(r["click_id"], r["purchase_id"], r["gap_us"]) for r in out}
    assert got == {
        (1, 2, 30 * MIN),   # inner match, gap 30min
        (3, None, None),    # u2: no-match proven by the final watermark
    }, got


def test_stream_stream_join_restart_recovers_join_state(spark, tmp_path):
    """Mid-stream restart for SYMMETRIC JOIN state: run the interval join
    over a prefix holding an UNMATCHED click, stop, deliver the matching
    purchase in new files, resume from the same checkpoint. The
    cross-restart pair can only exist if the click's row was restored from
    the checkpointed join state store — re-reading input would re-emit the
    run-1 pair too, and losing state would drop the run-2 pair. Must hold:
    batch ids continue (no epoch re-executed), every pair emitted exactly
    once across both runs, and the union equals the batch interval join."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    now = time.time()
    MIN = 60_000_000

    def mk(i, rows):
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, ts_us long"
        ).select(
            "event_id", "user_id", "event_type",
            F.timestamp_micros("ts_us").alias("ts"),
        )
        p = str(src / f"slice_{i}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(p)
        for name in os.listdir(p):
            os.utime(os.path.join(p, name), (now - 600 + i * 100,) * 2)
        os.utime(p, (now - 600 + i * 100,) * 2)

    def run():
        from aws_vpc_flow_log_appender_spark.streaming.joins import (
            stream_stream_interval_join,
        )

        schema = T.StructType([
            T.StructField("event_id", T.LongType(), False),
            T.StructField("user_id", T.LongType(), False),
            T.StructField("event_type", T.StringType(), False),
            T.StructField("ts", T.TimestampType(), False),
        ])
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/slice_*.parquet")
        )
        out = stream_stream_interval_join(stream)
        emitted: list[tuple] = []
        batch_ids: list[int] = []

        def capture(df, epoch_id: int) -> None:
            batch_ids.append(epoch_id)
            emitted.extend(
                (r["click_id"], r["purchase_id"]) for r in df.collect()
            )

        q = (
            out.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(capture)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "stream did not finish"
        return emitted, batch_ids

    T0 = BASE_US
    # run 1: u1 and u2 click; only u1's purchase arrives -> one pair,
    # u2's click sits UNMATCHED in the state store when the query stops
    mk(0, [(1, 1, "click", T0), (2, 2, "click", T0)])
    mk(1, [(3, 1, "purchase", T0 + 30 * MIN)])
    pairs1, ids1 = run()
    assert pairs1 == [(1, 3)]

    # files arriving while the query is down: u2's match (within its hour)
    # and a far-future watermark advancer
    mk(2, [(4, 2, "purchase", T0 + 40 * MIN)])
    mk(3, [(5, 99, "purchase", T0 + 600 * MIN)])

    pairs2, ids2 = run()
    assert min(ids2) > max(ids1), "resumed run re-executed old epochs"
    assert pairs2 == [(2, 4)], (
        "cross-restart pair missing or duplicated — join state was not "
        f"restored from the checkpoint: {pairs2}"
    )
    # union across runs == the batch interval join, each pair exactly once
    all_rows = spark.read.parquet(str(src) + "/slice_*.parquet")
    c = all_rows.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"), "user_id", F.col("ts").alias("c_ts")
    )
    p = all_rows.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    batch_pairs = {
        (r["cid"], r["pid"])
        for r in c.join(
            p,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert set(pairs1) | set(pairs2) == batch_pairs == {(1, 3), (2, 4)}


def test_sliding_append_window_drops_late_rows_from_both_windows(spark, tmp_path):
    """The sliding twin of the append tumbling test (r8, backing
    stream_sliding_window_append): every event feeds TWO overlapping
    windows; a late row whose windows were both flushed + evicted in an
    earlier epoch is dropped from BOTH (no merge, no re-emission); each
    window is emitted exactly once; and emission-at-boundary is <= — the
    window ending exactly AT the final watermark flushes."""
    src = tmp_path / "src"
    src.mkdir()
    now = time.time()
    aligned_us = (BASE_US // 3_600_000_000 + 1) * 3_600_000_000

    def mk(path, rows, mtime):
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, us long, value double"
        ).select(
            "event_id", "user_id",
            F.timestamp_micros(F.lit(aligned_us) + F.col("us")).alias("ts"),
            "value",
        )
        df.coalesce(1).write.mode("overwrite").parquet(path)
        for name in os.listdir(path):
            os.utime(os.path.join(path, name), (mtime, mtime))
        os.utime(path, (mtime, mtime))

    m = 60_000_000  # one minute in micros
    file_a = [
        (0, 1, 0 * m, 1.0),      # windows [-30,30) and [0,60)
        (1, 1, 31 * m, 1.0),     # windows [0,60) and [30,90)
        (2, 1, 120 * m, 1.0),    # 2h
    ]
    file_b = [(3, 1, 180 * m, 1.0)]   # 3h: watermark 1h30m evicts the early windows
    file_c = [
        (4, 1, 5 * m, 100.0),    # LATE: both its windows already evicted
        (5, 1, 240 * m, 1.0),    # 4h: final watermark 3h30m
    ]
    mk(str(src / "slice_a.parquet"), file_a, now - 600)
    mk(str(src / "slice_b.parquet"), file_b, now - 500)
    mk(str(src / "slice_c.parquet"), file_c, now - 400)

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/slice_*.parquet")
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .select(
            ((F.unix_micros(F.col("window.start")) - aligned_us) / m)
            .cast("long").alias("win_m"),
            "n", "v",
        )
    )
    epochs: dict[int, list] = {}

    def capture(df, epoch_id: int) -> None:
        epochs[epoch_id] = df.collect()

    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(capture)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish"

    by_win: dict[int, dict] = {}
    for rows in epochs.values():
        for r in rows:
            assert r["win_m"] not in by_win, (
                f"window {r['win_m']} emitted more than once"
            )
            by_win[r["win_m"]] = r
    # the late 100.0 row leaked nowhere (both its windows were evicted)
    assert all(r["v"] < 100.0 for r in by_win.values())
    # exact emission set, including the <= boundary: [2h30,3h30) ends
    # exactly at the final 3h30m watermark and MUST flush
    assert set(by_win) == {-30, 0, 30, 90, 120, 150}, by_win
    assert by_win[-30]["n"] == 1      # e0 only — late e4 dropped
    assert by_win[0]["n"] == 2        # e0 + e1 — late e4 dropped
    assert by_win[30]["n"] == 1      # e1's second window
    assert by_win[150]["n"] == 1     # the boundary window (e3)
    assert len(epochs) >= 3
