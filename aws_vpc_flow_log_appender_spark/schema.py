"""Declared StructTypes for every shape the reference processes implicitly.

The reference's schemas are by-convention (regex captures + dynamic JS object
appends); Spark is schema-first, so the union of all appended fields is
declared up front. Citations: /root/reference/decorator/index.js (parse at
:43,:107-126; enrichment appends at :169-190), /root/reference/ingestor/index.js
(CloudWatch envelope at :125-129).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Raw VPC Flow Log v2 line: 14 space-separated fields
# (regex at decorator/index.js:43). Field 5 is `dstaddr` in the VPC format but
# the reference stores it as `destaddr` (decorator/index.js:116) — kept as-is.
# ---------------------------------------------------------------------------

# (name, spark type) in positional order of the v2 format.
FLOW_FIELDS: list[tuple[str, T.DataType]] = [
    ("version", T.LongType()),
    ("account-id", T.LongType()),       # 12 digits -> needs 64-bit
    ("interface-id", T.StringType()),
    ("srcaddr", T.StringType()),
    ("destaddr", T.StringType()),
    ("srcport", T.LongType()),
    ("dstport", T.LongType()),
    ("protocol", T.LongType()),
    ("packets", T.LongType()),
    ("bytes", T.LongType()),
    ("start", T.LongType()),            # epoch seconds (event time)
    ("end", T.LongType()),
    ("action", T.StringType()),         # ACCEPT | REJECT
    ("log-status", T.StringType()),     # OK | NODATA | SKIPDATA
]

# Anchored at the start only, like the reference's regex
# (decorator/index.js:43): trailing text after log-status, such as the
# ingestor's framing newline, still matches, and the fields are the match's.
FLOW_LINE_PATTERN = (
    r"^(\d) (\d+) (eni-\w+) "
    r"(\d+\.\d+\.\d+\.\d+) (\d+\.\d+\.\d+\.\d+) "
    r"(\d+) (\d+) (\d+) (\d+) (\d+) (\d+) (\d+) "
    r"(ACCEPT|REJECT) (OK|NODATA|SKIPDATA)"
)

FLOW_SCHEMA = T.StructType(
    [T.StructField(n, t, True) for n, t in FLOW_FIELDS]
)

# The parsed record the decorator builds (decorator/index.js:109-126): the 14
# fields plus a processing-time `@timestamp`.
PARSED_SCHEMA = T.StructType(
    [T.StructField("@timestamp", T.TimestampType(), True)]
    + [T.StructField(n, t, True) for n, t in FLOW_FIELDS]
)

# ---------------------------------------------------------------------------
# CloudWatch Logs subscription envelope (ingestor/index.js:125-129):
# {awslogs: {data: base64(gzip(JSON))}} whose inner JSON is:
# ---------------------------------------------------------------------------
CLOUDWATCH_ENVELOPE_SCHEMA = T.StructType([
    T.StructField("messageType", T.StringType(), True),   # DATA_MESSAGE | CONTROL_MESSAGE
    T.StructField("owner", T.StringType(), True),
    T.StructField("logGroup", T.StringType(), True),
    T.StructField("logStream", T.StringType(), True),
    T.StructField("subscriptionFilters", T.ArrayType(T.StringType()), True),
    T.StructField("logEvents", T.ArrayType(T.StructType([
        T.StructField("id", T.StringType(), True),
        T.StructField("timestamp", T.LongType(), True),
        T.StructField("message", T.StringType(), True),
    ])), True),
])

# Firehose transformation event record (decorator/event.json:5-17).
FIREHOSE_RECORD_SCHEMA = T.StructType([
    T.StructField("recordId", T.StringType(), False),
    T.StructField("data", T.StringType(), False),   # base64(raw line)
    T.StructField("approximateArrivalTimestamp", T.LongType(), True),
])

# ---------------------------------------------------------------------------
# ENI dimension (shape documented at decorator/index.js:72-80, produced by the
# jmespath projection at :85-90). `ipAddress` is an array because the
# `[?Primary]` filter yields a list (SURVEY §7.4.2).
# ---------------------------------------------------------------------------
ENI_DIM_SCHEMA = T.StructType([
    T.StructField("interfaceId", T.StringType(), False),
    T.StructField("securityGroupIds", T.ArrayType(T.StringType()), True),
    T.StructField("ipAddress", T.ArrayType(T.StringType()), True),
])

# Raw EC2 DescribeNetworkInterfaces shape (the jmespath *input*,
# decorator/index.js:85-90) — used to test the jmespath-equivalent projection.
EC2_ENI_RAW_SCHEMA = T.StructType([
    T.StructField("NetworkInterfaceId", T.StringType(), False),
    T.StructField("Groups", T.ArrayType(T.StructType([
        T.StructField("GroupId", T.StringType(), True),
        T.StructField("GroupName", T.StringType(), True),
    ])), True),
    T.StructField("PrivateIpAddresses", T.ArrayType(T.StructType([
        T.StructField("Primary", T.BooleanType(), True),
        T.StructField("PrivateIpAddress", T.StringType(), True),
    ])), True),
])

# ---------------------------------------------------------------------------
# Geolocation dimension: the ipstack per-IP lookup (decorator/geocode.js:56-68)
# remodeled as a CIDR-range table keyed by [start_ip_int, end_ip_int].
# ---------------------------------------------------------------------------
GEO_DIM_SCHEMA = T.StructType([
    T.StructField("start_ip_int", T.LongType(), False),
    T.StructField("end_ip_int", T.LongType(), False),
    T.StructField("country_code", T.StringType(), True),
    T.StructField("country_name", T.StringType(), True),
    T.StructField("region_code", T.StringType(), True),
    T.StructField("region_name", T.StringType(), True),
    T.StructField("city", T.StringType(), True),
    T.StructField("latitude", T.DoubleType(), True),
    T.StructField("longitude", T.DoubleType(), True),
])

# ---------------------------------------------------------------------------
# Enriched output record (union of decorator/index.js:109-126 and :169-190).
# Geo defaults are ''/0 — never NULL (decorator/index.js:182-190);
# security-group-ids and direction stay NULL on ENI miss (:171-173).
# ---------------------------------------------------------------------------
ENRICHED_SCHEMA = T.StructType(
    list(PARSED_SCHEMA.fields)
    + [
        T.StructField("security-group-ids", T.ArrayType(T.StringType()), True),
        T.StructField("direction", T.StringType(), True),
        T.StructField("source-country-code", T.StringType(), True),
        T.StructField("source-country-name", T.StringType(), True),
        T.StructField("source-region-code", T.StringType(), True),
        T.StructField("source-region-name", T.StringType(), True),
        T.StructField("source-city", T.StringType(), True),
        T.StructField("source-location", T.StructType([
            T.StructField("lat", T.DoubleType(), True),
            T.StructField("lon", T.DoubleType(), True),
        ]), True),
    ]
)

ENRICHED_COLUMNS = [f.name for f in ENRICHED_SCHEMA.fields]
