"""Enrich stage: ENI security-group join, direction, geolocation range join.

Reference behavior (decorator/index.js:163-197):
 - per-row nested-loop lookup of interface-id in the ENI mapping (J1, :167-173)
 - direction = destaddr == eni.ipAddress ? inbound : outbound (:170); rows with
   no ENI match get NO direction (stays NULL here)
 - geocode(srcaddr) skipped for RFC1918 sources or when disabled (:175-177)
 - geo fields appended with ''/0 defaults when no geo data (:182-190)

Spark-first design:
 - J1 -> broadcast LEFT OUTER equi join; deterministic-match discipline via
   a stable-ordered min per key on the build side (lodash.find returns the
   first match; see first_match_dim).
 - J2 (per-row HTTP geo lookup) -> a *data* join against a CIDR-range geo
   dimension. The naive (ip BETWEEN start AND end) range join is O(n*m), and
   nested ranges would duplicate facts. Instead the dimension is grouped into
   one row per /16 bucket holding every range that touches it, most specific
   first (flatten_geo_dim); the fact side does a broadcast equi join on its
   address's bucket and takes the first candidate that contains the address.
   Coarse buckets prune, an exact test inside the bucket decides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# RFC1918 predicate — replicates decorator/index.js:149-153 EXACTLY, including
# its quirk of classifying loopback 127/8 as "private" (SURVEY §2.2 P8).
RFC1918_PATTERN = (
    r"(^127\.)|(^10\.)|(^172\.1[6-9]\.)|(^172\.2[0-9]\.)|(^172\.3[0-1]\.)|(^192\.168\.)"
)


def is_rfc1918(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.rlike(RFC1918_PATTERN)


def ip_to_int(col: Column | str) -> Column:
    """Dotted-quad IPv4 -> uint32 as long, pure Column arithmetic (no UDF).

    try_cast per octet: the flow-line regex's address capture is an
    unbounded ``\\d+`` quad, so a regex-valid line can carry an octet that
    overflows int64 — under Spark 4 ANSI defaults a plain cast would crash
    the batch. Octets are additionally RANGE-CHECKED to 0..255: an address
    like '1.2.3.300' is regex-valid but its positional arithmetic would
    alias onto a DIFFERENT valid address's integer (1.2.4.44) and geolocate
    the row to a concrete wrong range, where the reference's geocoder gets
    no data and degrades to the ''/0 defaults (code-review r6) — any
    out-of-range or overflowing octet now yields NULL and falls into the
    geo-miss path. ``get``, not ``getItem``: an address with fewer than four
    octets is NULL too, where an ANSI array index would raise."""
    c = F.col(col) if isinstance(col, str) else col
    o = F.split(c, r"\.")
    octs = [F.get(o, i).try_cast("long") for i in range(4)]
    valid = None
    for oc in octs:
        ok = oc.isNotNull() & (oc >= 0) & (oc <= 255)
        valid = ok if valid is None else (valid & ok)
    return F.when(
        valid,
        octs[0] * F.lit(16777216) + octs[1] * F.lit(65536)
        + octs[2] * F.lit(256) + octs[3],
    )


def _nulls_last(cols: list[str]) -> list[Column]:
    """Struct fields that order like ``asc_nulls_last`` on each column.
    Struct ordering puts a null field first, so an ``isnull`` flag goes
    ahead of each column."""
    return [c for a in cols for c in (F.isnull(a).alias(f"__null_{a}"), F.col(a))]


def first_match_dim(eni_dim: DataFrame, key: str = "interfaceId") -> DataFrame:
    """lodash.find takes the FIRST match (decorator/index.js:167). 'First' in
    API-listing order is unknowable once distributed, so the enforced
    discipline is *deterministic*-match: one row per key, the least by the
    other columns in order, nulls last (bare dropDuplicates keeps whichever
    row the hash aggregate meets first — flip-flopping sg-ids/direction
    across runs)."""
    others = [c for c in eni_dim.columns if c != key]
    best = F.col("__best")
    return eni_dim.groupBy(key).agg(F.min(F.struct(*_nulls_last(others))).alias("__best")).select(
        *[F.col(c) if c == key else best[c].alias(c) for c in eni_dim.columns]
    )


def join_eni(parsed: DataFrame, eni_dim: DataFrame) -> DataFrame:
    """J1: broadcast left-outer equi join replacing the O(rows*enis)
    nested-loop lookup (decorator/index.js:167-173).

    Adds `security-group-ids` (NULL on miss) and `direction`
    (inbound/outbound; NULL on miss — the reference only sets direction
    inside the match branch, :169-173).
    """
    dim = first_match_dim(eni_dim)
    joined = parsed.join(
        F.broadcast(dim),
        parsed["interface-id"] == dim["interfaceId"],
        "left",
    )
    matched = dim["interfaceId"].isNotNull()
    # ipAddress is an array (the jmespath [?Primary] filter yields a singleton
    # list, decorator/index.js:89); JS `==` coerces ['x'] == 'x' true, so the
    # comparison is against the first element (SURVEY §7.4.2). try_element_at,
    # not element_at: a real ENI with no Primary=true IPv4 (IPv6-only) yields
    # an EMPTY array, and element_at on it raises under ANSI, killing the
    # batch — the JS `[] == destaddr` evaluates false -> 'outbound', which is
    # exactly where try_element_at's NULL lands the comparison
    # (code-review r6).
    direction = F.when(
        matched,
        F.when(
            F.col("destaddr") == F.try_element_at(dim["ipAddress"], F.lit(1)),
            F.lit("inbound"),
        ).otherwise(F.lit("outbound")),
    )
    return (
        joined
        .withColumn("security-group-ids", dim["securityGroupIds"])
        .withColumn("direction", direction)
        .drop("interfaceId", "securityGroupIds", "ipAddress")
    )


def _ip_bucket(ip_int: Column) -> Column:
    """The /16 prefix bucket: the unit of both the dimension prep and the probe."""
    return (ip_int / F.lit(2 ** 16)).cast("long")


def flatten_geo_dim(geo_dim: DataFrame) -> DataFrame:
    """Prepare a possibly-overlapping range dimension for the J2 probe: one
    row per /16 bucket, ``(ip_bucket, cands)``, where ``cands`` holds every
    range that touches the bucket, sorted so that the first range covering
    an address is its most specific (narrowest) one.

    Real GeoIP feeds nest ranges (country superset + city subset); joining
    facts against overlapping ranges would duplicate records. With one row
    per bucket each fact row matches at most one row, and the exact
    containment test runs inside that row's array — no fact-side dedup.

    One explode (each range into the buckets it spans) and one aggregate.
    The sort key is width, then start, then each attribute nulls last, then
    end: a dirty feed carrying the same [start, end] twice with conflicting
    attributes still picks one winner on every run (the flip-flop hazard
    first_match_dim eliminates for the ENI dim).
    """
    attrs = [f.name for f in geo_dim.schema.fields
             if f.name not in ("start_ip_int", "end_ip_int")]
    start, end = F.col("start_ip_int"), F.col("end_ip_int")
    cand = F.struct((end - start).alias("w"), start.alias("s"), *_nulls_last(attrs),
                    end.alias("e"))
    return (
        geo_dim.select(
            F.explode(F.sequence(_ip_bucket(start), _ip_bucket(end))).alias("ip_bucket"),
            cand.alias("cand"),
        )
        .groupBy("ip_bucket")
        .agg(F.array_sort(F.collect_list("cand")).alias("cands"))
    )


def join_geo(df: DataFrame, geo_dim: DataFrame, src_col: str = "srcaddr",
             geolocation_enabled: bool = True,
             dim_is_disjoint: bool = False) -> DataFrame:
    """J2: geolocation as a broadcast equi join on the /16 bucket, then the
    first candidate range that contains the address.

    Replaces the serial per-row HTTP lookup (decorator/index.js:175-177,
    geocode.js:56-68). The enrichment gate (env flag + RFC1918 source,
    decorator/index.js:175-177) is applied as join-input pruning: gated rows
    never enter the join. Geo columns default to ''/0 — never NULL
    (decorator/index.js:182-190), including for gated and unmatched rows.

    ``geolocation_enabled`` is resolved at plan-build time (SURVEY §4.3) —
    when False the join is statically pruned from the plan entirely.
    ``dim_is_disjoint=True`` says ``geo_dim`` is already prepared by
    flatten_geo_dim (callers that reuse one dimension across queries or
    micro-batches prepare it once).
    """
    geo_defaults = {
        "source-country-code": F.lit(""),
        "source-country-name": F.lit(""),
        "source-region-code": F.lit(""),
        "source-region-name": F.lit(""),
        "source-city": F.lit(""),
        "source-location": F.struct(
            F.lit(0.0).alias("lat"), F.lit(0.0).alias("lon")
        ),
    }
    if not geolocation_enabled:
        for name, default in geo_defaults.items():
            df = df.withColumn(name, default)
        return df

    gate = (~is_rfc1918(src_col)) & F.col(src_col).isNotNull()
    buckets = geo_dim if dim_is_disjoint else flatten_geo_dim(geo_dim)
    ip = F.col("__ip_int")
    df = df.withColumn("__ip_int", F.when(gate, ip_to_int(src_col))).withColumn(
        "__ip_bucket", _ip_bucket(ip)
    )
    joined = df.join(F.broadcast(buckets), df["__ip_bucket"] == buckets["ip_bucket"], "left")
    hit = F.try_element_at(
        F.filter("cands", lambda c: (c["s"] <= ip) & (ip <= c["e"])), F.lit(1)
    )
    geo = F.col("__geo")
    return (
        joined.withColumn("__geo", hit)
        .withColumn("source-country-code", F.coalesce(geo["country_code"], F.lit("")))
        .withColumn("source-country-name", F.coalesce(geo["country_name"], F.lit("")))
        .withColumn("source-region-code", F.coalesce(geo["region_code"], F.lit("")))
        .withColumn("source-region-name", F.coalesce(geo["region_name"], F.lit("")))
        .withColumn("source-city", F.coalesce(geo["city"], F.lit("")))
        .withColumn(
            "source-location",
            F.struct(
                F.coalesce(geo["latitude"], F.lit(0.0)).alias("lat"),
                F.coalesce(geo["longitude"], F.lit(0.0)).alias("lon"),
            ),
        )
        .drop("ip_bucket", "cands", "__ip_int", "__ip_bucket", "__geo")
    )


def project_eni_dim(ec2_raw: DataFrame) -> DataFrame:
    """The jmespath projection (decorator/index.js:85-90) as array functions:

    ``NetworkInterfaces[].{interfaceId: NetworkInterfaceId,
    securityGroupIds: Groups[].GroupId,
    ipAddress: PrivateIpAddresses[?Primary].PrivateIpAddress}``
    """
    return ec2_raw.select(
        F.col("NetworkInterfaceId").alias("interfaceId"),
        F.transform("Groups", lambda g: g["GroupId"]).alias("securityGroupIds"),
        F.transform(
            F.filter("PrivateIpAddresses", lambda p: p["Primary"]),
            lambda p: p["PrivateIpAddress"],
        ).alias("ipAddress"),
    )
