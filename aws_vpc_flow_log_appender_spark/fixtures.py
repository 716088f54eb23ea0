"""Deterministic flow-log-shaped fixtures for golden tests (FIXTURES.md §1-§5).

The reference ships exactly one test fixture (decorator/event.json — two
records: one public-IP source, one RFC1918 source). We reproduce those two
lines verbatim plus a seeded corpus that exercises every branch: malformed
lines (error routing, decorator/index.js:133-139), ENI misses (left-outer
miss, :171-173), private sources (geo skip, :149-153,:176), geo-table gaps
(''/0 defaults, :182-190).
"""

from __future__ import annotations

import base64
import random

from pyspark.sql import DataFrame, SparkSession

from .schema import ENI_DIM_SCHEMA, FIREHOSE_RECORD_SCHEMA, GEO_DIM_SCHEMA
from .session import SessionLRU

# The two payload lines from decorator/event.json (base64-decoded).
EVENT_JSON_LINES = [
    "2 123456789010 eni-1854f949 72.21.196.65 172.31.16.21 20641 22 6 20 4249 1418530010 1418530070 ACCEPT OK",
    "2 123456789010 eni-1854f949 10.3.45.44 172.31.16.21 20641 22 6 20 4249 1418530010 1418530070 ACCEPT OK",
]

ENIS = [
    # (interfaceId, securityGroupIds, primary ipAddress) — eni-miss-* absent.
    ("eni-1854f949", ["sg-aaaa1111", "sg-bbbb2222"], ["172.31.16.21"]),
    ("eni-2b64c38a", ["sg-cccc3333"], ["10.100.2.48"]),
    ("eni-3c75d49b", ["sg-dddd4444", "sg-eeee5555", "sg-ffff6666"], ["192.168.4.7"]),
    ("eni-4d86e5ac", ["sg-aaaa1111"], ["172.31.9.9"]),
]

PUBLIC_IPS = ["72.21.196.65", "52.94.133.131", "8.8.8.8", "203.0.113.9", "151.101.1.69"]
PRIVATE_IPS = ["10.3.45.44", "192.168.1.10", "172.16.0.5", "127.0.0.1"]

GEO_ROWS = [
    # (start_ip, end_ip, cc, country, rc, region, city, lat, lon) — with gaps:
    # 8.8.8.8 and 203.0.113.9 fall outside every range -> ''/0 defaults.
    ("72.21.192.0", "72.21.223.255", "US", "United States", "WA", "Washington", "Seattle", 47.6062, -122.3321),
    ("52.94.128.0", "52.94.135.255", "US", "United States", "VA", "Virginia", "Ashburn", 39.0438, -77.4874),
    ("151.101.0.0", "151.101.3.255", "US", "United States", "CA", "California", "San Francisco", 37.7749, -122.4194),
]


def _ip_to_int(ip: str) -> int:
    a, b, c, d = (int(x) for x in ip.split("."))
    return (a << 24) | (b << 16) | (c << 8) | d


def make_lines(n: int = 200, seed: int = 42, malformed_frac: float = 0.1) -> list[str]:
    """Seeded corpus of flow-log v2 lines covering every pipeline branch."""
    rng = random.Random(seed)
    lines = list(EVENT_JSON_LINES)
    eni_ids = [e[0] for e in ENIS] + ["eni-miss0001", "eni-miss0002"]
    for i in range(n - len(lines)):
        if rng.random() < malformed_frac:
            lines.append(rng.choice([
                "CONTROL line not a flow log",
                "2 123456789010 broken",
                "1 12345 eni-xyz not-an-ip 1.2.3.4 1 2 3 4 5 6 7 DROP OK",
                "",
            ]))
            continue
        eni = rng.choice(eni_ids)
        src = rng.choice(PUBLIC_IPS + PRIVATE_IPS)
        # destaddr sometimes equals the ENI's primary IP -> inbound branch
        dst = rng.choice(
            [e[2][0] for e in ENIS if e[0] == eni] or ["172.31.16.99"]
        ) if rng.random() < 0.5 else "172.31.16.99"
        start = 1418530010 + i * 60
        lines.append(
            f"2 123456789010 {eni} {src} {dst} {rng.randint(1024, 65535)} "
            f"{rng.choice([22, 80, 443, 6379])} {rng.choice([6, 17])} "
            f"{rng.randint(1, 500)} {rng.randint(40, 100000)} {start} {start + 60} "
            f"{rng.choice(['ACCEPT', 'REJECT'])} {rng.choice(['OK', 'OK', 'OK', 'NODATA', 'SKIPDATA'])}"
        )
    return lines


def firehose_records_df(spark: SparkSession, lines: list[str] | None = None) -> DataFrame:
    """Firehose transformation-event records (FIXTURES.md §3)."""
    lines = lines if lines is not None else make_lines()
    rows = [
        (f"rec-{i:06d}", base64.b64encode(line.encode()).decode(), 1418530010 + i)
        for i, line in enumerate(lines)
    ]
    return spark.createDataFrame(rows, FIREHOSE_RECORD_SCHEMA)


def eni_dim_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(ENIS, ENI_DIM_SCHEMA)


def geo_dim_df(spark: SparkSession) -> DataFrame:
    rows = [
        (_ip_to_int(s), _ip_to_int(e), cc, cn, rc, rn, city, lat, lon)
        for s, e, cc, cn, rc, rn, city, lat, lon in GEO_ROWS
    ]
    return spark.createDataFrame(rows, GEO_DIM_SCHEMA)


# SparkContext -> the prepared fixture geo dimension
_GEO_FLAT_CACHE = SessionLRU(maxsize=4)


def geo_dim_flat_df(spark: SparkSession) -> DataFrame:
    """The fixture geo dimension prepared for the probe
    (``enrich.flatten_geo_dim``: one row per prefix bucket, the bucket width
    sized to the ranges and carried as ``ip_bucket`` metadata), materialized
    ONCE per SparkContext via localCheckpoint, which keeps that metadata.

    Range prep is offline dimension work in production (GeoIP feeds update
    daily; facts arrive continuously). The prep is one width aggregate, one
    explode and one aggregate; running it inside every query invocation
    would bill its jobs to each query (more jobs for ``flowlog_enrich``). The
    streaming path (streaming/flowlog.py) prepares once for the same reason;
    this is the batch twin. Deterministic, so memoizing across invocations
    cannot change results; keyed by SparkContext identity (with
    a weakref liveness probe against id reuse) so a driver-created fresh
    session gets its own materialization."""
    from .enrich import flatten_geo_dim

    sc = spark.sparkContext
    cached = _GEO_FLAT_CACHE.get(sc)
    if cached is None:
        # materialized outside the cache lock (runs Spark jobs); a racing
        # caller's equal result may win the slot, and both return it
        cached = _GEO_FLAT_CACHE.setdefault(
            sc, flatten_geo_dim(geo_dim_df(spark)).localCheckpoint(eager=True)
        )
    return cached
