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
   one row per prefix bucket holding every range that touches it, most
   specific first (flatten_geo_dim); the fact side does a broadcast equi join
   on its address's bucket and takes the first candidate that contains the
   address. Coarse buckets prune, an exact test inside the bucket decides.
   A dimension prepared once sizes its bucket to its ranges; the per-job
   inline prep uses /16.

Every stage builds its Column expressions once per SparkContext
(``session.stage_columns``) and runs as a few ``select``/``join`` calls.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .session import stage_columns

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


def _eni(c: str) -> str:
    """first_match_dim's private name for ENI dim column ``c``."""
    return f"__eni_{c}"


def _first_match_columns(columns: tuple[str, ...], key: str) -> tuple[Column, list[Column]]:
    others = [c for c in columns if c != key]
    best = F.col("__best")
    agg = F.min(F.struct(*_nulls_last(others))).alias("__best")
    out = [(F.col(c) if c == key else best[c]).alias(_eni(c)) for c in columns]
    return agg, out


def first_match_dim(eni_dim: DataFrame, key: str = "interfaceId") -> DataFrame:
    """lodash.find takes the FIRST match (decorator/index.js:167). 'First' in
    API-listing order is unknowable once distributed, so the enforced
    discipline is *deterministic*-match: one row per key, the least by the
    other columns in order, nulls last (bare dropDuplicates keeps whichever
    row the hash aggregate meets first — flip-flopping sg-ids/direction
    across runs).

    The output keeps the input's column order under private names
    (``__eni_<name>``), so join_eni's condition and projections are built
    once by name and never collide with a fact-side column."""
    columns = tuple(eni_dim.columns)
    agg, out = stage_columns(("first_match_dim", columns, key),
                             lambda: _first_match_columns(columns, key))
    return eni_dim.groupBy(key).agg(agg).select(*out)


_ENI_USED = ("interfaceId", "securityGroupIds", "ipAddress")


def _quoted(name: str) -> Column:
    """The column named ``name``, read literally (dots and all)."""
    return F.col("`" + name.replace("`", "``") + "`")


def _eni_columns(columns: tuple[str, ...],
                 facts: tuple[str, ...]) -> tuple[Column, list[Column]]:
    """join_eni's condition and output projection: the fact columns, then
    the ENI columns under their public names."""
    on = F.col("interface-id") == F.col(_eni("interfaceId"))
    # ipAddress is an array (the jmespath [?Primary] filter yields a singleton
    # list, decorator/index.js:89); JS `==` coerces ['x'] == 'x' true, so the
    # comparison is against the first element (SURVEY §7.4.2). try_element_at,
    # not element_at: a real ENI with no Primary=true IPv4 (IPv6-only) yields
    # an EMPTY array, and element_at on it raises under ANSI, killing the
    # batch — the JS `[] == destaddr` evaluates false -> 'outbound', which is
    # exactly where try_element_at's NULL lands the comparison
    # (code-review r6).
    direction = F.when(
        F.col(_eni("interfaceId")).isNotNull(),
        F.when(
            F.col("destaddr") == F.try_element_at(F.col(_eni("ipAddress")), F.lit(1)),
            F.lit("inbound"),
        ).otherwise(F.lit("outbound")),
    )
    out = [
        *[_quoted(c) for c in facts],
        # any other dim column rides along under its own name
        *[F.col(_eni(c)).alias(c) for c in columns if c not in _ENI_USED],
        F.col(_eni("securityGroupIds")).alias("security-group-ids"),
        direction.alias("direction"),
    ]
    return on, out


def join_eni(parsed: DataFrame, eni_dim: DataFrame) -> DataFrame:
    """J1: broadcast left-outer equi join replacing the O(rows*enis)
    nested-loop lookup (decorator/index.js:167-173).

    Adds `security-group-ids` (NULL on miss) and `direction`
    (inbound/outbound; NULL on miss — the reference only sets direction
    inside the match branch, :169-173).
    """
    dim = first_match_dim(eni_dim)
    columns, facts = tuple(eni_dim.columns), tuple(parsed.columns)
    on, out = stage_columns(("join_eni", columns, facts), lambda: _eni_columns(columns, facts))
    return parsed.join(F.broadcast(dim), on, "left").select(*out)


# The bucket is the address divided by 2^shift (a /(32-shift) prefix). 16 is
# the inline prep's fixed width and the finest a prepared dimension gets, so
# no dimension holds more rows than at /16.
_MIN_SHIFT = 16
# ip_bucket metadata key: the shift the prepared dimension was built with
_SHIFT_KEY = "ip_bucket_shift"


def _ip_bucket(ip_int: Column, shift: int) -> Column:
    """The prefix bucket: the unit of both the dimension prep and the probe.

    A double division, exact below 2^53, not ``shiftright``: with
    ``shiftright`` as the probe's join key, flowbench's batch job (seed 1,
    4 cores) ran 1.29 s against 1.21 s, over the same physical plan, and
    the stream was no faster."""
    return (ip_int / F.lit(2 ** shift)).cast("long")


def _flatten_columns(attrs: tuple[str, ...], shift: int) -> tuple[list[Column], Column]:
    start, end = F.col("start_ip_int"), F.col("end_ip_int")
    cand = F.struct((end - start).alias("w"), start.alias("s"), *_nulls_last(list(attrs)),
                    end.alias("e"))
    spans = [
        F.explode(F.sequence(_ip_bucket(start, shift), _ip_bucket(end, shift))).alias("ip_bucket"),
        cand.alias("cand"),
    ]
    # the width and null flags only order the sort; the probe reads the rest
    kept = ["s", *attrs, "e"]
    cands = F.transform(F.array_sort(F.collect_list("cand")),
                        lambda c: F.struct(*[c[f].alias(f) for f in kept]))
    return spans, cands.alias("cands")


def _flatten(geo_dim: DataFrame, shift: int) -> DataFrame:
    """flatten_geo_dim's rows at a given bucket width, without the width."""
    attrs = tuple(c for c in geo_dim.columns if c not in ("start_ip_int", "end_ip_int"))
    spans, cands = stage_columns(("flatten_geo_dim", attrs, shift),
                                 lambda: _flatten_columns(attrs, shift))
    return geo_dim.select(*spans).groupBy("ip_bucket").agg(cands)


def _bucket_shift(geo_dim: DataFrame) -> int:
    """The bucket width for ``geo_dim``: the mean width of its well-formed
    ranges (NULL or inverted bounds are left out) rounded down to a power of
    two, and never finer than /16. A range of width w touches about
    1 + w/2^shift buckets, so the prepared dimension holds at most about
    three candidates per range on average, however deeply the ranges nest."""
    start, end = F.col("start_ip_int"), F.col("end_ip_int")
    mean = geo_dim.where(start <= end).agg(F.avg(end - start + 1)).first()[0]
    return max(_MIN_SHIFT, int(mean).bit_length() - 1) if mean else _MIN_SHIFT


def _prepared_shift(prepared: DataFrame) -> int:
    """The shift ``flatten_geo_dim`` recorded on ``prepared``'s ip_bucket."""
    meta = {f.name: f.metadata for f in prepared.schema.fields}.get("ip_bucket", {})
    if _SHIFT_KEY not in meta:
        raise ValueError("join_geo(dim_is_disjoint=True) needs a dimension prepared by "
                         "flatten_geo_dim: its ip_bucket column carries no bucket width")
    return meta[_SHIFT_KEY]


def flatten_geo_dim(geo_dim: DataFrame) -> DataFrame:
    """Prepare a possibly-overlapping range dimension for the J2 probe: one
    row per prefix bucket, ``(ip_bucket, cands)``, where ``cands`` holds
    every range that touches the bucket, sorted so that the first range
    covering an address is its most specific (narrowest) one.

    For callers that prepare once and probe many times. One aggregate job
    sizes the bucket to the ranges (``_bucket_shift``): a fixed /16 copies
    each wide range into every /16 it touches (flowbench seed 1: 19,574
    ranges became 129,308 candidates in 51,200 rows; at its mean-sized /14,
    45,982 candidates in 12,800 rows). The width rides on ``ip_bucket`` as
    column metadata, which join_geo reads, so the probe cannot use another.

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
    shift = _bucket_shift(geo_dim)
    return _flatten(geo_dim, shift).withMetadata("ip_bucket", {_SHIFT_KEY: shift})


# output column -> the geo dim attribute it reads
_GEO_FIELDS = [("source-country-code", "country_code"), ("source-country-name", "country_name"),
               ("source-region-code", "region_code"), ("source-region-name", "region_name"),
               ("source-city", "city")]


def _geo_output(keep: list[Column], geo: Column | None) -> list[Column]:
    """The ``keep`` columns plus the six geo columns read from the winning
    candidate ``geo``: ''/0 where it is NULL, and everywhere when ``geo``
    is None (geolocation off)."""
    def field(attr: str, default: str | float) -> Column:
        return F.lit(default) if geo is None else F.coalesce(geo[attr], F.lit(default))

    return [
        *keep,
        *[field(attr, "").alias(name) for name, attr in _GEO_FIELDS],
        F.struct(field("latitude", 0.0).alias("lat"),
                 field("longitude", 0.0).alias("lon")).alias("source-location"),
    ]


def _geo_columns(src_col: str, shift: int, facts: tuple[str, ...]
                 ) -> tuple[list[Column], Column, list[Column], list[Column]]:
    """join_geo's gated address, join condition on its bucket, winning
    candidate and output (the fact columns, then the geo columns)."""
    gate = (~is_rfc1918(src_col)) & F.col(src_col).isNotNull()
    ip = F.col("__ip_int")
    ip_int = [F.col("*"), F.when(gate, ip_to_int(src_col)).alias("__ip_int")]
    on = _ip_bucket(ip, shift) == F.col("ip_bucket")
    hit = F.try_element_at(
        F.filter("cands", lambda c: (c["s"] <= ip) & (ip <= c["e"])), F.lit(1)
    )
    return (ip_int, on, [F.col("*"), hit.alias("__geo")],
            _geo_output([_quoted(c) for c in facts], F.col("__geo")))


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
    micro-batches prepare it once) and is probed at the bucket width it
    carries; a dimension without one raises ValueError. Otherwise the
    dimension is prepared inline at /16, with no job to size the bucket.
    """
    if not geolocation_enabled:
        return df.select(*stage_columns(("join_geo", None),
                                        lambda: _geo_output([F.col("*")], None)))
    if dim_is_disjoint:
        shift, buckets = _prepared_shift(geo_dim), geo_dim
    else:
        shift, buckets = _MIN_SHIFT, _flatten(geo_dim, _MIN_SHIFT)
    facts = tuple(df.columns)
    ip_int, on, geo, out = stage_columns(("join_geo", src_col, shift, facts),
                                         lambda: _geo_columns(src_col, shift, facts))
    joined = df.select(*ip_int).join(F.broadcast(buckets), on, "left")
    # the winning candidate is its own projection: each output column reads
    # it, and one projection keeps the filter to one evaluation per row
    return joined.select(*geo).select(*out)


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
