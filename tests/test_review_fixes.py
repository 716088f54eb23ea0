"""Regression tests for the code-review findings: unchunked base64 payloads,
byte-exact dead-letter passthrough, overlapping-geo-range discipline,
unique recordIds, salted-join guard, Python workers started outside the
repository."""

import base64
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from aws_vpc_flow_log_appender_spark import fixtures
from aws_vpc_flow_log_appender_spark.enrich import join_geo
from aws_vpc_flow_log_appender_spark.operators.skew import salted_join
from aws_vpc_flow_log_appender_spark.parse import parse_lines, parse_records
from aws_vpc_flow_log_appender_spark.pipeline import decorate
from aws_vpc_flow_log_appender_spark.schema import FIREHOSE_RECORD_SCHEMA, GEO_DIM_SCHEMA


def test_packaged_base64_is_unchunked(spark):
    """Spark's base64() is MIME-chunked; packaged payloads must not contain
    CRLF (the reference's Buffer.toString('base64') is unchunked)."""
    out = decorate(
        fixtures.firehose_records_df(spark),
        fixtures.eni_dim_df(spark),
        fixtures.geo_dim_df(spark),
    ).collect()
    assert len(out) == 200
    assert all("\r" not in r["data"] and "\n" not in r["data"] for r in out)


def test_dead_letter_preserves_non_utf8_payload(spark):
    """A non-UTF-8 original payload must pass through ProcessingFailed
    byte-for-byte (decode+re-encode would substitute U+FFFD)."""
    raw_bytes = b"\xff\xfe garbage \x80\x81"
    rec = [("rec-bin", base64.b64encode(raw_bytes).decode(), 0)]
    df = spark.createDataFrame(rec, FIREHOSE_RECORD_SCHEMA)
    out = decorate(
        df, fixtures.eni_dim_df(spark), fixtures.geo_dim_df(spark)
    ).collect()[0]
    assert out["result"] == "ProcessingFailed"
    assert base64.b64decode(out["data"]) == raw_bytes


def test_overlapping_geo_ranges_do_not_duplicate(spark):
    """Real GeoIP feeds contain nested ranges; a multi-match must keep the
    most specific range, never duplicate the record."""
    geo_rows = [
        # country-level superset
        (fixtures._ip_to_int("72.0.0.0"), fixtures._ip_to_int("72.255.255.255"),
         "US", "United States", "", "", "", 0.0, 0.0),
        # city-level subset covering the same address
        (fixtures._ip_to_int("72.21.192.0"), fixtures._ip_to_int("72.21.223.255"),
         "US", "United States", "WA", "Washington", "Seattle", 47.6, -122.3),
    ]
    geo = spark.createDataFrame(geo_rows, GEO_DIM_SCHEMA)
    parsed = parse_records(
        fixtures.firehose_records_df(spark, [fixtures.EVENT_JSON_LINES[0]])
    )
    out = join_geo(parsed, geo).collect()
    assert len(out) == 1  # no fanout
    assert out[0]["source-city"] == "Seattle"  # narrowest range won


def test_parse_lines_unique_ids_disambiguate_repeats(spark):
    line = fixtures.EVENT_JSON_LINES[0]
    df = spark.createDataFrame([(line,), (line,), (line,)], ["value"])
    dup = parse_lines(df)  # default: content hash -> collisions
    assert dup.select("recordId").distinct().count() == 1
    uniq = parse_lines(df, unique_ids=True)
    assert uniq.select("recordId").distinct().count() == 3


def test_salted_join_rejects_outer(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(o, c, "o_custkey", how="full")


def test_null_log_event_message_does_not_poison_sink(spark):
    from aws_vpc_flow_log_appender_spark.sources.ingest import extract_log_lines

    envelopes = spark.createDataFrame(
        [("DATA_MESSAGE", [("1", 0, None), ("2", 0, "real line")])],
        "messageType string, logEvents array<struct<id:string,timestamp:long,message:string>>",
    )
    rows = sorted(r["Data"] for r in extract_log_lines(envelopes).collect())
    # JS `undefined + '\n'` parity: no NULL Data rows ever reach the sink
    assert rows == ["real line\n", "undefined\n"]

def test_scan_cache_is_bounded_lru(spark, sf_dir):
    """ADVICE r4: the scan memo must be BOUNDED over sessions — the old
    WeakKeyDictionary never evicted because cached DataFrames pin their own
    session key alive. The LRU keeps at most ``maxsize`` entries regardless
    of value->key cycles, evicting oldest-first, and a re-used id() from a
    dead session never serves another session's plans. The prepared geo
    dimension's per-SparkContext memo is the same helper and holds the
    same bound and liveness guarantees."""
    import gc
    import weakref

    from aws_vpc_flow_log_appender_spark import fixtures
    from aws_vpc_flow_log_appender_spark.operators import registry as reg

    cache = reg._SCAN_CACHE
    reg.load_cache_clear()
    try:
        # the real session plus newSession() clones: all distinct cache keys
        sessions = [spark] + [spark.newSession() for _ in range(cache.maxsize + 1)]
        for s in sessions:
            reg.load(s, sf_dir, "region")
        assert len(cache) == cache.maxsize
        # oldest (the original session and the first clone) were evicted;
        # the newest survives and still serves its memoized plan
        newest = sessions[-1]
        memo = cache.get(newest)
        df_again = reg.load(newest, sf_dir, "region")
        assert memo[(sf_dir, "region")] is df_again
        # a cached plan is bound to ITS session, never another's
        assert df_again.sparkSession is newest
        # re-loading through an evicted session repopulates (correctness
        # never depends on the cache) and bumps it to most-recent
        assert cache.get(spark) is None
        reg.load(spark, sf_dir, "region")
        assert cache.get(spark) is not None
        assert len(cache) == cache.maxsize
    finally:
        reg.load_cache_clear()

    # geo dimension memo: one materialization per live SparkContext ...
    geo = fixtures._GEO_FLAT_CACHE
    sc = spark.sparkContext
    flat = fixtures.geo_dim_flat_df(spark)
    assert fixtures.geo_dim_flat_df(spark) is flat
    assert geo.get(sc) is flat

    class Key:  # weakref-able stand-ins for other contexts
        pass

    # ... bounded: maxsize newer keys evict it, and the next call
    # re-materializes instead of growing the memo
    others = [Key() for _ in range(geo.maxsize)]
    for k in others:
        geo.setdefault(k, "other")
    assert len(geo) == geo.maxsize and geo.get(sc) is None
    fresh = fixtures.geo_dim_flat_df(spark)
    assert fresh is not flat and geo.get(sc) is fresh
    assert len(geo) == geo.maxsize
    # ... live keys only: a collected key's entry is swept, and an id
    # shared with a dead key's entry never serves that entry's value
    del others, k
    gc.collect()
    assert len(geo) == 1
    dead, alive = Key(), Key()
    geo._entries[id(alive)] = (weakref.ref(dead), "stale")
    assert geo.get(alive) is None
    del dead
    gc.collect()
    assert geo.get(alive) is None and len(geo) == 1
    assert geo.get(sc) is fresh


def test_session_lru_is_thread_safe():
    """SessionLRU's sweep/lookup/insert/evict sequences run under one lock:
    with many threads and a tiny interpreter switch interval, every thread
    keeps reading its own key's value, all threads share the ONE value
    cached for a common key (get-or-create is atomic), and the memo never
    exceeds its bound."""
    import sys
    import threading

    from aws_vpc_flow_log_appender_spark.session import SessionLRU

    class Key:
        pass

    n_threads = 16
    # room for every thread's own key, the shared key and one short-lived
    # key per thread
    cache = SessionLRU(maxsize=2 * n_threads + 1)
    shared = Key()
    seen = [set() for _ in range(n_threads)]
    errors = []

    def worker(t, key):
        try:
            for _ in range(2000):
                own = cache.setdefault(key, t)
                seen[t].add(cache.setdefault(shared, t))
                cache.setdefault(Key(), -1)  # dies at once: exercises the sweep
                if own != t or len(cache) > cache.maxsize:
                    errors.append((t, own, len(cache)))
                    return
        except Exception as exc:  # noqa: BLE001 - surfaced by the assert below
            errors.append(repr(exc))

    keys = [Key() for _ in range(n_threads)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=worker, args=(t, k))
            for t, k in enumerate(keys)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert len(set().union(*seen)) == 1


def test_stage_columns_share_one_build_across_threads(spark):
    """session.stage_columns under racing threads: a key may be built more
    than once, but every caller gets the ONE value the memo kept for it."""
    import sys
    import threading
    import time

    from aws_vpc_flow_log_appender_spark.session import stage_columns

    n_threads, keys = 16, [("test_stage_columns_race", k) for k in range(4)]
    got = [[] for _ in range(n_threads)]
    start = threading.Barrier(n_threads)

    def build():
        time.sleep(0.01)  # a real build waits on py4j round trips
        return object()

    def worker(t):
        start.wait(timeout=60)
        for i in range(500):
            key = keys[(t + i) % len(keys)]
            got[t].append((key, id(stage_columns(key, build))))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert all(len(g) == 500 for g in got)
    ids = {}
    for key, value in (kv for g in got for kv in g):
        ids.setdefault(key, set()).add(value)
    assert {k: len(v) for k, v in ids.items()} == {k: 1 for k in keys}


def test_stream_sink_retention_is_bounded(spark, tmp_path):
    """Code-review r5 + ADVICE r5: sink dirs are registered for FIFO
    reclamation AT CREATION by _track_sink (so exception paths before
    _read_back cannot leak them), named after their query, and only the
    newest _SINK_RETAIN survive — unbounded per-invocation retention
    re-grows tmp disk in bench loops."""
    import os

    from aws_vpc_flow_log_appender_spark.streaming import queries as sq

    sq._sweep_sinks()  # isolate from any earlier stream-query runs
    dirs = []
    last_df = None
    for i in range(sq._SINK_RETAIN + 2):
        d = sq._track_sink(f"retention_probe_{i}")
        assert f"retention_probe_{i}" in os.path.basename(d)  # attributable
        spark.range(i, i + 3).toDF("v").write.mode("overwrite").parquet(d)
        dirs.append(d)
        last_df = sq._read_back(spark, d, "v long")
    kept = [d for d in dirs if os.path.exists(d)]
    assert kept == dirs[-sq._SINK_RETAIN:], kept
    # newest result still recomputes from its retained files
    i_last = sq._SINK_RETAIN + 1
    assert sorted(r["v"] for r in last_df.collect()) == [
        i_last, i_last + 1, i_last + 2
    ]
    # exception-path coverage: a dir tracked but never read back is STILL
    # reclaimed by later invocations (the leak ADVICE r5 #1 flagged)
    orphan = sq._track_sink("orphaned_by_exception")
    assert os.path.exists(orphan)
    for i in range(sq._SINK_RETAIN):
        sq._track_sink(f"pusher_{i}")
    assert not os.path.exists(orphan)
    sq._sweep_sinks()


def test_dedup_exact_null_texts_never_collapse(spark, tmp_path):
    """The NULL-text contract of batch dedup_exact (shared with
    streaming/dedup.py): md5(NULL) is NULL and window partitioning groups
    NULLs together, so without the per-doc fallback every NULL-text doc
    would merge into one survivor group. Pinned on a constructed corpus
    because the fixture tables carry no NULL text — and re-pinned for the
    two-column partition key (r6 session 4), whose grouping must stay
    identical to the oracle's CASE key."""
    from aws_vpc_flow_log_appender_spark.ext.dedup import dedup_exact

    rows = [
        (1, "same text", "en", "web", 9),
        (2, "same text", "en", "web", 9),
        (3, None, "en", "web", 0),
        (4, None, "en", "web", 0),
        (5, "other", "en", "web", 5),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r for r in dedup_exact(spark, str(tmp_path)).collect()}
    # duplicate texts collapse: doc 1 keeps, doc 2 ranks 2, group of 2
    assert (out[1]["dup_rank"], out[1]["group_size"]) == (1, 2)
    assert (out[2]["dup_rank"], out[2]["group_size"]) == (2, 2)
    # NULL texts NEVER collapse: each is rank 1 in a group of 1, hash NULL
    for d in (3, 4):
        assert (out[d]["dup_rank"], out[d]["group_size"]) == (1, 1), out[d]
        assert out[d]["text_hash"] is None
    assert (out[5]["dup_rank"], out[5]["group_size"]) == (1, 1)


def test_python_workers_import_the_package_from_any_cwd(tmp_path, sf_dir):
    """A Python UDF's worker must import this package even when the driver
    runs outside the repository and nothing sets PYTHONPATH: the workers
    start in the driver's working directory, so without the package root
    on their path a pandas UDF fails with ModuleNotFoundError."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        f"import sys; sys.path.insert(0, {root!r})\n"
        "import __spark_entry__ as m\n"
        "from aws_vpc_flow_log_appender_spark.session import get_spark\n"
        "spark = get_spark('cwd')\n"
        f"print('ROWS', m.queries()['multimodal_bmp_decode'](spark, {sf_dir!r}).count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    p = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=600)
    rows = [ln for ln in p.stdout.splitlines() if ln.startswith("ROWS ")]
    assert p.returncode == 0 and rows, p.stderr[-3000:]
    assert int(rows[0].split()[1]) > 0


def test_load_puts_the_package_first_on_an_outside_sessions_worker_path(spark, sf_dir):
    """A caller that builds its own session and calls ``load`` must get the
    package root first on the workers' PYTHONPATH, with the entries it had
    set itself kept behind it."""
    from aws_vpc_flow_log_appender_spark.operators.registry import load

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = spark.sparkContext.environment
    saved = env.get("PYTHONPATH")
    env["PYTHONPATH"] = "/foreign/site"
    try:
        load(spark, sf_dir, "embeddings")
        path = env["PYTHONPATH"].split(os.pathsep)
    finally:
        if saved is None:
            env.pop("PYTHONPATH", None)
        else:
            env["PYTHONPATH"] = saved
    assert path[0] == root
    assert "/foreign/site" in path
