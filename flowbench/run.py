"""Benchmark of the flow-log decorator: batch ingest->decorate chain and the
Structured Streaming decorator, end to end and (with ``--trace 1``) layer by
layer.

    python3 flowbench/run.py --workload flowlog_batch --seed 1 --seconds 12 --trace 0

Run from the repository root. Inputs come from ``gen.py`` and the seed; the
program gets only the generated files. Human-readable lines go to stdout
first; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. See README.md in this
directory for the workloads, the metrics and the layer -> metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "aws_vpc_flow_log_appender_spark"

WORKLOADS = ("flowlog_batch", "flowlog_stream")
PREP_ROUNDS = 3             # dimension prep repeats in set-up (median reported)
BATCH_RECORDS = 30_000      # lines per batch job: ten minutes at the documented 50 records/s
WARMUP_RECORDS = 1_000      # lines in the stream's first (cold) micro-batch
WARM_JOBS = 3               # untimed batch jobs before timing, the first of them cold
WARM_PUTS = 16              # untimed puts after the stream's cold micro-batch
MIN_STEPS = 4               # timed jobs or puts per run, at the least
ENVELOPE_FILES = 8          # the envelopes arrive as this many objects
LAYER_REPEATS = 2           # traced run: calls per layer prefix
# Per-layer metrics of layers a workload never runs; reported as 0.
NOT_APPLICABLE = {"flowlog_batch": ("streaming.",), "flowlog_stream": ("sources.ingest.",)}

# Flow-log v2 columns the output check decodes from each Ok payload.
CHECK_SCHEMA = ("direction STRING, `security-group-ids` ARRAY<STRING>, "
                "`source-country-code` STRING, `log-status` STRING")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100)."""
    ordered = sorted(values)
    return ordered[max(0, int(-(-len(ordered) * q // 100)) - 1)]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def launch_env(work: Path, trace: bool) -> None:
    """Everything the program needs from its environment, set before the JVM
    starts: the repo on PYTHONPATH (pandas-UDF workers import the package),
    one core per local slot, a small fixed-size driver heap, scratch space inside the
    work directory and, for the traced run, the Spark event log."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    # -Xms as large as the heap: no heap resizing from run to run
    os.environ["SPARK_SUBMIT_OPTS"] = (os.environ.get("SPARK_SUBMIT_OPTS", "")
                                       + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g").strip()
    args = ["--conf spark.ui.showConsoleProgress=false"]
    if trace:
        (work / "eventlog").mkdir()
        args += ["--conf spark.eventLog.enabled=true",
                 "--conf spark.eventLog.compress=false",
                 "--conf spark.eventLog.rolling.enabled=false",
                 f"--conf spark.eventLog.dir=file://{work / 'eventlog'}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


class Bench:
    """One run: the session, its work directory, counters and checks."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: Path):
        import gen
        from tracing import Tracer

        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.rng = random.Random(seed)
        self.traffic = gen.TRAFFIC
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []   # {"name", "ok", "known_defect"}
        self.table: list[tuple[str, float, str]] = []
        self.layer: dict[str, tuple[float, str]] = {}
        self.t_start = t0 = time.time()
        from aws_vpc_flow_log_appender_spark.session import get_spark

        self.spark = get_spark("flowbench")
        self.session_start_s = time.time() - t0
        self.tracer = Tracer(self.spark)

    # -- output checks -----------------------------------------------------
    def observed(self, path: str) -> tuple[dict, int, int]:
        """Histograms of one output, its row count and distinct recordIds."""
        from pyspark.sql import functions as F

        df = self.spark.read.parquet(path)
        rec = F.from_json(F.decode(F.unbase64("data"), "utf-8"), CHECK_SCHEMA)
        cube = (
            df.select("result", rec.alias("r"))
            .select(
                "result",
                F.when(F.col("result") == "Ok", F.struct(
                    F.col("r.direction").alias("direction"),
                    F.col("r.`security-group-ids`").isNotNull().alias("sg_present"),
                    F.col("r.`source-country-code`").alias("country_code"),
                    F.col("r.`log-status`").alias("log_status"),
                )).alias("ok"),
            )
            .groupBy("result", "ok.direction", "ok.sg_present", "ok.country_code", "ok.log_status")
            .count()
            .collect()
        )
        hist = {h: {} for h in ("result", "direction", "sg_present", "country_code", "log_status")}
        for row in cube:
            hist["result"][row["result"]] = hist["result"].get(row["result"], 0) + row["count"]
            if row["result"] != "Ok":
                continue
            for h in ("direction", "sg_present", "country_code", "log_status"):
                hist[h][row[h]] = hist[h].get(row[h], 0) + row["count"]
        n, ids = df.agg(F.count("*"), F.count_distinct("recordId")).first()
        return hist, n, ids

    def check(self, path: str, expected: dict, expected_rows: int, expected_ids: int) -> None:
        hist, rows, ids = self.observed(path)
        for h, exp in expected.items():
            got = hist[h]
            ok = got == exp
            # Known defect, reported and not worked around: the ingestor frames
            # each message as `message + "\n"` and FLOW_LINE_PATTERN's `$`
            # matches before a final "\n", so log-status keeps the newline
            # where the reference's unanchored regex captures the bare value.
            known = (not ok and h == "log_status"
                     and got == {k + "\n": v for k, v in exp.items()})
            self.checks.append({"name": h, "ok": ok, "known_defect": known})
            if not ok:
                print(f"check {h}: expected {sorted(exp.items(), key=str)[:6]} "
                      f"got {sorted(got.items(), key=str)[:6]}"
                      + (" [known defect: log-status newline]" if known else ""))
        for name, got, exp in (("rows", rows, expected_rows), ("distinct_record_ids", ids, expected_ids)):
            self.checks.append({"name": name, "ok": got == exp, "known_defect": False})
            if got != exp:
                print(f"check {name}: expected {exp} got {got}")

    # -- reporting ---------------------------------------------------------
    def phase(self, name: str) -> None:
        print(f"phase {name} done at {time.time() - self.t_start:.2f} s", flush=True)

    def metric(self, name: str, value: float, unit: str) -> None:
        self.table.append((name, value, unit))

    def layer_metric(self, name: str, value: float, unit: str) -> None:
        self.layer[name] = (value, unit)

    def closed_loop(self, step, before=None) -> list[float]:
        """One client: call ``step(i)`` until the timed calls add up to
        ``--seconds`` (at least MIN_STEPS of them); returns their wall times.
        ``before(i)``, if given, runs untimed ahead of each call. A call that
        raises is counted as failed; three failures end the loop. In the
        traced run each call is an ``e2e`` span."""
        lat: list[float] = []
        while (sum(lat) < self.seconds or len(lat) < MIN_STEPS) and self.failed < 3:
            if before is not None:
                before(self.attempted)
            self.attempted += 1
            t = time.time()
            try:
                with self.tracer.span("e2e") if self.trace else nullcontext():
                    step(self.attempted - 1)
            except Exception as e:  # a failed step is counted, not fatal
                self.failed += 1
                print(f"step failed: {e!r}"[:2000])
                continue
            lat.append(time.time() - t)
        if not lat:
            raise RuntimeError("every step failed")
        return lat

    def report_latency(self, lat: list[float], records: int) -> None:
        """``latency_p50_s`` is the gated figure; the rest are printed."""
        print("steps_s", [round(x, 3) for x in lat])
        self.metric("latency_p50_s", statistics.median(lat), "s")
        self.metric("latency_p99_s", percentile(lat, 99), "s")
        self.metric("records_per_s", records * len(lat) / sum(lat), "1/s")
        if self.trace:
            self.layer_metric("trace.latency_p50_s", statistics.median(lat), "s")

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._gateway.proc.pid
        return vm_hwm_mb("self") + vm_hwm_mb(jvm)

    def close(self) -> None:
        """Stop the session and wait for the driver JVM to exit (the event
        log is complete only after this)."""
        proc = self.spark.sparkContext._gateway.proc
        self.spark.stop()
        proc.stdin.close()
        proc.wait(timeout=60)


def prep_dims(b: Bench, eni_path: str, geo_path: str, flatten: bool) -> float:
    """Median time to load both dimensions and, where the program does it
    once per query (the stream), de-overlap the geo ranges."""
    from aws_vpc_flow_log_appender_spark.enrich import flatten_geo_dim

    times = []
    for _ in range(PREP_ROUNDS):
        t = time.time()
        b.spark.read.parquet(eni_path).count()
        geo = b.spark.read.parquet(geo_path)
        (flatten_geo_dim(geo) if flatten else geo).count()
        times.append(time.time() - t)
    print("prep_s", [round(x, 3) for x in times])
    return statistics.median(times)


# ---------------------------------------------------------------------------
# flowlog_batch: CloudWatch envelopes -> ingest -> decorate -> parquet
# ---------------------------------------------------------------------------

def write_envelopes(b: Bench, lines: list[str], path: Path) -> list[str]:
    """Envelope files for ``lines``; returns the Firehose records a correct
    ingestor hands the decorator (``message + "\\n"``, ingestor/index.js:78-81)."""
    import gen

    envelopes = gen.make_envelopes(b.traffic, lines)
    path.mkdir(parents=True)
    for p in range(ENVELOPE_FILES):
        (path / f"part-{p:03d}.txt").write_text("\n".join(envelopes[p::ENVELOPE_FILES]) + "\n")
    return [m + "\n" for m in lines]


def batch_chain(spark, env_path: str, eni_path: str, geo_path: str):
    from aws_vpc_flow_log_appender_spark.pipeline import decorate_lines
    from aws_vpc_flow_log_appender_spark.sources.ingest import (
        decode_cloudwatch_events, extract_log_lines)

    lines = extract_log_lines(decode_cloudwatch_events(spark.read.text(env_path), "value"))
    return decorate_lines(lines, spark.read.parquet(eni_path), spark.read.parquet(geo_path),
                          line_col="Data")


def run_batch(b: Bench) -> None:
    import gen

    w = b.work
    dims = gen.make_dims(b.rng, b.traffic)
    gen.write_dims(dims, str(w / "eni.parquet"), str(w / "geo.parquet"))
    records = write_envelopes(b, gen.make_lines(b.rng, b.traffic, dims, BATCH_RECORDS), w / "env")
    expected, summary = gen.expect(records, dims)
    print("traffic", json.dumps(summary))
    eni, geo = str(w / "eni.parquet"), str(w / "geo.parquet")
    b.phase("generate")

    def job(_: int = 0) -> None:
        batch_chain(b.spark, str(w / "env"), eni, geo).write.mode("overwrite").parquet(str(w / "out"))

    # warm-up: untimed jobs, the first of them cold
    prep_s = prep_dims(b, eni, geo, flatten=False)
    t = time.time()
    warm = []
    for _ in range(WARM_JOBS):
        job()
        warm.append(time.time() - t - sum(warm))
    setup_s = b.session_start_s + prep_s + sum(warm)
    print("warm_s", [round(x, 3) for x in warm])
    b.phase("setup")

    lat = b.closed_loop(job)
    b.phase("measure")
    # every job reads the same input; the last one's output is checked
    b.check(str(w / "out"), expected, len(records), len(set(records)))
    b.metric("setup_s", setup_s, "s")
    b.report_latency(lat, BATCH_RECORDS)
    if b.trace:
        trace_layers(b, w, dims, stream=False)


# ---------------------------------------------------------------------------
# flowlog_stream: stream_decorate over line files renamed into its input
# ---------------------------------------------------------------------------

class StreamRig:
    """A running ``stream_decorate`` query over its own input/checkpoint/output
    directories, fed by renaming pre-written files from a staging directory."""

    def __init__(self, b: Bench, name: str, eni_path: str, geo_df):
        from aws_vpc_flow_log_appender_spark.streaming import stream_decorate

        self.dir = b.work / name
        self.staging, self.input = self.dir / "staging", self.dir / "input"
        self.ckpt, self.out = self.dir / "ckpt", self.dir / "out"
        for d in (self.staging, self.input):
            d.mkdir(parents=True)
        self.lines: dict[str, list[str]] = {}
        self.stamp: dict[str, float] = {}
        self.eni_refresh: list[float] = []   # one per micro-batch

        def eni_provider(spark):
            t = time.time()
            df = spark.read.parquet(eni_path)
            self.eni_refresh.append(time.time() - t)
            return df

        self.query = stream_decorate(b.spark, str(self.input), eni_provider, geo_df,
                                     str(self.ckpt), str(self.out), available_now=False)

    def stage(self, name: str, lines: list[str]) -> None:
        (self.staging / name).write_text("\n".join(lines) + "\n")
        self.lines[name] = lines

    def put(self, name: str) -> None:
        """Release one staged file and wait until the epoch holding it commits."""
        os.rename(self.staging / name, self.input / name)
        self.stamp[name] = time.time()
        self.query.processAllAvailable()

    def file_batches(self) -> dict[str, int]:
        """File name -> micro-batch id, from the file source's metadata log."""
        out = {}
        src = self.ckpt / "sources" / "0"
        for f in src.iterdir():
            if f.name.startswith("."):
                continue
            for line in f.read_text().splitlines()[1:]:
                ent = json.loads(line)
                out[os.path.basename(ent["path"])] = ent["batchId"]
        return out


def run_stream(b: Bench) -> None:
    """A closed loop of Firehose puts: each step renames one put-sized file
    into the stream's input and waits for its epoch to commit. At the
    documented 50 records/s a 500-record put arrives every 10 s, far longer
    than a micro-batch takes, so each put is a micro-batch of its own; the
    loop skips the idle time between puts."""
    import gen

    w = b.work
    put = b.traffic["put_records"]
    dims = gen.make_dims(b.rng, b.traffic)
    eni = str(w / "eni.parquet")
    gen.write_dims(dims, eni, str(w / "geo.parquet"))
    geo_df = b.spark.read.parquet(str(w / "geo.parquet"))
    n = 0

    def stage(name: str, size: int) -> None:
        nonlocal n
        rig.stage(name, gen.make_lines(b.rng, b.traffic, dims, size, first=n))
        n += size

    prep_s = prep_dims(b, eni, str(w / "geo.parquet"), flatten=True)
    # start the query and let its first (cold) micro-batch, which also
    # flattens the geo dimension, and a few warm ones run before timing
    t = time.time()
    rig = StreamRig(b, "stream", eni, geo_df)
    warm = []
    for k in range(1 + WARM_PUTS):
        stage(f"warm{k}.txt", WARMUP_RECORDS if k == 0 else put)
        tw = time.time()
        rig.put(f"warm{k}.txt")
        warm.append(time.time() - tw)
    setup_s = b.session_start_s + prep_s + (time.time() - t)
    print("warm_s", [round(x, 3) for x in warm])
    b.phase("setup")

    refresh_from = len(rig.eni_refresh)
    lat = b.closed_loop(lambda i: rig.put(f"p{i:05d}.txt"),
                        before=lambda i: stage(f"p{i:05d}.txt", put))
    failed_query = rig.query.exception() is not None
    progress = list(rig.query.recentProgress)
    rig.query.stop()
    b.phase("measure")
    if failed_query and not b.failed:
        b.failed = 1
    timed = [name for name in rig.stamp if name.startswith("p")]

    # exactly-once: every line once, recordIds unique within each epoch
    released = {name: rig.lines[name] for name in rig.stamp}
    fb = rig.file_batches()
    b.failed += sum(1 for name in released if name not in fb)
    per_batch: dict[int, dict[str, int]] = {}
    for name, lines in released.items():
        cnt = per_batch.setdefault(fb.get(name, -1), {})
        for ln in lines:
            cnt[ln] = cnt.get(ln, 0) + 1
    best: dict[str, int] = {}
    for cnt in per_batch.values():
        for ln, k in cnt.items():
            best[ln] = max(best.get(ln, 0), k)
    all_lines = [ln for lines in released.values() for ln in lines]
    expected, summary = gen.expect(all_lines, dims)
    print("traffic", json.dumps(summary))
    b.check(str(rig.out), expected, len(all_lines), sum(best.values()))
    b.metric("setup_s", setup_s, "s")
    b.report_latency(lat, put)
    if b.trace:
        stream_progress(b, rig, progress, {fb[name]: rig.stamp[name] for name in timed if name in fb},
                        rig.eni_refresh[refresh_from:])
        trace_layers(b, w, dims, stream=True, rig=rig, one_put=timed[0])


def stream_progress(b: Bench, rig: StreamRig, progress: list[dict],
                    released: dict[int, float], eni_refresh: list[float]) -> None:
    """The streaming layer, from the progress reports of the timed puts'
    micro-batches (``released`` maps batch id -> rename time)."""
    from datetime import datetime

    progress = [p for p in progress if p["batchId"] in released and p["numInputRows"] > 0]
    if not progress:
        raise RuntimeError("no progress report for a timed micro-batch")

    def p50(key: str) -> float:
        return statistics.median(p["durationMs"].get(key, 0) for p in progress)

    for key, name in (("triggerExecution", "trigger"), ("addBatch", "add_batch"),
                      ("getBatch", "get_batch"), ("latestOffset", "latest_offset"),
                      ("queryPlanning", "query_planning"), ("walCommit", "wal_commit"),
                      ("commitOffsets", "commit_offsets")):
        b.layer_metric(f"streaming.{name}_ms_p50", p50(key), "ms")
    # from the rename to the start of the trigger that picks the file up
    pickup = [datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
              - released[p["batchId"]] for p in progress]
    b.layer_metric("streaming.pickup_ms_p50", 1000 * statistics.median(pickup), "ms")
    b.layer_metric("streaming.eni_refresh_ms_p50", 1000 * statistics.median(eni_refresh), "ms")
    b.layer_metric("streaming.rows_per_batch_p50",
                   statistics.median(p["numInputRows"] for p in progress), "rows")
    b.tracer.group_names[rig.query.runId] = "streaming"
    b.stream_batches = {str(bid) for bid in released}


# ---------------------------------------------------------------------------
# traced run: layer prefixes to the noop sink, each in its own job group
# ---------------------------------------------------------------------------

def trace_layers(b: Bench, w: Path, dims, stream: bool, rig: StreamRig | None = None,
                 one_put: str = "") -> None:
    """Time each layer's public function on noop-sink prefixes of the
    workload's chain, each call in its own span and job group. The batch's
    prefixes read its envelopes; the stream's read one timed put, the input
    of one of its micro-batches."""
    from pyspark.sql import functions as F

    from aws_vpc_flow_log_appender_spark.enrich import (
        flatten_geo_dim, is_rfc1918, join_eni, join_geo)
    from aws_vpc_flow_log_appender_spark.package import package_records
    from aws_vpc_flow_log_appender_spark.parse import parse_lines
    from aws_vpc_flow_log_appender_spark.sources.ingest import (
        decode_cloudwatch_events, extract_log_lines)

    spark = b.spark
    eni = spark.read.parquet(str(w / "eni.parquet"))
    geo = spark.read.parquet(str(w / "geo.parquet"))
    flat = None
    for _ in range(LAYER_REPEATS):
        if flat is not None:
            flat.unpersist()
        with b.tracer.span("enrich.geo.flatten"):
            flat = flatten_geo_dim(geo).persist()
            dim_out = flat.count()

    if stream:
        # the geo dimension is pre-flattened, as stream_decorate does
        def lines():
            return spark.read.text(str(rig.input / one_put))
        col, unique, geo_in, disjoint = "value", True, flat, True
    else:
        # the batch de-overlaps inside every job; a cached copy would stand in
        # for that work (the cache manager matches the same plan), so drop it
        flat.unpersist()

        def lines():
            env = spark.read.text(str(w / "env"))
            return extract_log_lines(decode_cloudwatch_events(env, "value"))
        col, unique, geo_in, disjoint = "Data", False, geo, False

    def parsed():
        return parse_lines(lines(), col, unique_ids=unique)

    def with_eni():
        return join_eni(parsed(), eni)

    def with_geo():
        return join_geo(with_eni(), geo_in, dim_is_disjoint=disjoint)

    def packaged():
        return package_records(with_geo())

    layers = [("parse", parsed), ("enrich.eni", with_eni), ("enrich.geo", with_geo),
              ("package", packaged), ("sink", packaged)]
    if not stream:
        layers.insert(0, ("sources.ingest", lines))

    for _ in range(LAYER_REPEATS):
        with b.tracer.span("prefixes"):
            for name, fn in layers:
                b.tracer.group_names[name] = name
                with b.tracer.span(name, name):
                    df = fn()
                    if name == "sink":
                        df.write.mode("overwrite").parquet(str(w / "trace_out"))
                    else:
                        df.write.format("noop").mode("overwrite").save()

    prev = 0.0
    for name, _ in layers:
        med = statistics.median(b.tracer.durations(name))
        b.layer_metric(f"{name}.s", med - prev, "s")
        prev = med
    flatten_s = statistics.median(b.tracer.durations("enrich.geo.flatten"))
    b.layer_metric("enrich.geo.flatten_s", flatten_s, "s")
    b.layer_metric("enrich.geo.dim_rows_in", len(dims.geo_rows), "rows")
    b.layer_metric("enrich.geo.dim_rows_out", dim_out, "rows")
    if not stream:
        print(f"flatten share of a timed job: {flatten_s / b.layer['trace.latency_p50_s'][0]:.3f}")

    # layer counters, one untimed aggregate at the layer boundaries
    if not stream:
        env = decode_cloudwatch_events(spark.read.text(str(w / "env")), "value")
        null_env = env.filter(F.col("messageType").isNull() & F.col("logEvents").isNull()).count()
        b.layer_metric("sources.ingest.null_envelopes", null_env, "count")
    g = with_geo()
    valid = ~F.col("error")
    gate = valid & ~is_rfc1918("srcaddr")
    row = g.agg(
        F.count_if(F.col("error")).alias("err"),
        F.count_if(valid).alias("valid"),
        F.count_if(F.col("direction").isNotNull()).alias("eni_hit"),
        F.count_if(gate).alias("gated"),
        F.count_if(gate & (F.col("source-country-code") != "")).alias("geo_hit"),
    ).first()
    b.layer_metric("parse.error_rows", row["err"], "rows")
    b.layer_metric("enrich.eni.hit_ratio", row["eni_hit"] / max(row["valid"], 1), "ratio")
    b.layer_metric("enrich.geo.gate_share", row["gated"] / max(row["valid"], 1), "ratio")
    b.layer_metric("enrich.geo.hit_ratio", row["geo_hit"] / max(row["gated"], 1), "ratio")
    files = [p for p in (w / "trace_out").iterdir() if p.name.endswith(".parquet")]
    b.layer_metric("sink.files", len(files), "files")
    b.layer_metric("sink.bytes", sum(p.stat().st_size for p in files), "B")
    flat.unpersist()
    b.layer_prefixes = [name for name, _ in layers]


def finish_trace(b: Bench) -> None:
    """After the session stops: per-layer jobs/task time/shuffle bytes from
    the event log (marginal over the previous prefix, per call)."""
    from tracing import event_log_totals

    stream = b.workload == "flowlog_stream"
    totals = event_log_totals(str(b.work / "eventlog"), b.tracer.group_names,
                              b.stream_batches if stream else set())
    zero = {"jobs": 0, "task_s": 0.0, "shuffle_bytes": 0}
    units = {"jobs": "count", "task_s": "s", "shuffle_bytes": "B"}
    prev = zero
    for name in b.layer_prefixes:
        cur = {k: v / LAYER_REPEATS for k, v in totals.get(name, zero).items()}
        for k, unit in units.items():
            b.layer_metric(f"{name}.{k}", cur[k] - prev[k], unit)
        prev = cur
    if stream:   # per timed micro-batch
        for k, unit in units.items():
            b.layer_metric(f"streaming.{k}", totals.get("streaming", zero)[k] / len(b.stream_batches), unit)
    b.tracer.write(str(ROOT / ".flowbench_out" / f"spans-{b.workload}-{b.seed}.jsonl"))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "pipeline.py").is_file():
        print(f"program source {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = ROOT / ".flowbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    (ROOT / ".flowbench_out").mkdir(exist_ok=True)
    launch_env(work, bool(args.trace))
    sys.path.insert(0, str(ROOT))

    try:
        b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
        try:
            (run_batch if args.workload == "flowlog_batch" else run_stream)(b)
            b.layer_metric("session.start_s", b.session_start_s, "s")
            b.metric("peak_rss_mb", b.peak_rss_mb(), "MB")
        finally:
            b.close()
        if args.trace:
            finish_trace(b)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checks = b.checks
    wrong = sum(1 for c in checks if not c["ok"])
    unexpected = [c["name"] for c in checks if not c["ok"] and not c["known_defect"]]
    b.metric("failed_ops_frac", b.failed / max(b.attempted, 1), "ratio")
    b.metric("wrong_output_frac", wrong / max(len(checks), 1), "ratio")
    for name, value, unit in b.table:
        print(f"metric {name} = {value:.6g} {unit}")
    for name, (value, unit) in sorted(b.layer.items()):
        print(f"layer {name} = {value:.6g} {unit}")
    if unexpected:
        print(f"unexpected wrong outputs: {unexpected}")

    if args.trace:
        wanted, source = spec["per_layer"], b.layer
    else:
        wanted, source = spec["end_to_end"], {n: (v, u) for n, v, u in b.table}
    metrics = {}
    for m in wanted:
        if m["name"] in source:
            value = source[m["name"]][0]
        elif m["name"].startswith(NOT_APPLICABLE[args.workload]):
            value = 0   # the layer does not run on this workload
        else:
            raise RuntimeError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": not unexpected and bool(checks), "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
