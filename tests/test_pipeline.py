"""Golden tests for the flagship parse->enrich->package pipeline, mirroring the
reference's only fixture (decorator/event.json) plus branch-coverage corpus."""

import base64
import hashlib
import json
import random
import re
import threading

import py4j.java_gateway
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from aws_vpc_flow_log_appender_spark import enrich, fixtures
from aws_vpc_flow_log_appender_spark.enrich import (
    RFC1918_PATTERN,
    first_match_dim,
    flatten_geo_dim,
    ip_to_int,
    is_rfc1918,
    join_geo,
    project_eni_dim,
)
from aws_vpc_flow_log_appender_spark.parse import parse_lines, parse_records
from aws_vpc_flow_log_appender_spark.pipeline import decorate, decorate_lines, enrich_flow_logs
from aws_vpc_flow_log_appender_spark.schema import (
    EC2_ENI_RAW_SCHEMA,
    ENI_DIM_SCHEMA,
    GEO_DIM_SCHEMA,
)


def _event_json_records(spark):
    return fixtures.firehose_records_df(spark, fixtures.EVENT_JSON_LINES)


def test_parse_event_json_records(spark):
    out = parse_records(_event_json_records(spark)).collect()
    assert len(out) == 2
    r = out[0].asDict()
    assert r["error"] is False
    assert r["version"] == 2
    assert r["account-id"] == 123456789010
    assert r["interface-id"] == "eni-1854f949"
    assert r["srcaddr"] == "72.21.196.65"
    assert r["destaddr"] == "172.31.16.21"
    assert (r["srcport"], r["dstport"], r["protocol"]) == (20641, 22, 6)
    assert (r["packets"], r["bytes"]) == (20, 4249)
    assert (r["start"], r["end"]) == (1418530010, 1418530070)
    assert (r["action"], r["log-status"]) == ("ACCEPT", "OK")
    assert r["@timestamp"] is not None


def test_malformed_line_error_routing(spark):
    recs = fixtures.firehose_records_df(
        spark, ["garbage not a flow log", fixtures.EVENT_JSON_LINES[0]]
    )
    out = {r["recordId"]: r.asDict() for r in parse_records(recs).collect()}
    bad = out["rec-000000"]
    assert bad["error"] is True
    assert bad["raw"] == "garbage not a flow log"
    assert bad["version"] is None and bad["@timestamp"] is None
    assert out["rec-000001"]["error"] is False


def _fields(row):
    return {k: v for k, v in row.items() if k not in ("recordId", "raw", "__orig_b64", "@timestamp")}


def test_trailing_newline_is_ok_with_bare_log_status(spark):
    """The ingestor frames each message as `message + "\\n"`; the reference's
    regex is anchored at the start only, so the line is Ok and log-status
    is the bare "OK", not "OK\\n"."""
    recs = fixtures.firehose_records_df(
        spark, [fixtures.EVENT_JSON_LINES[0], fixtures.EVENT_JSON_LINES[0] + "\n"])
    plain, framed = (r.asDict() for r in parse_records(recs).orderBy("recordId").collect())
    assert framed["error"] is False
    assert framed["log-status"] == "OK"
    assert framed["raw"] == fixtures.EVENT_JSON_LINES[0] + "\n"
    assert _fields(framed) == _fields(plain)


def test_trailing_text_is_ok_with_the_reference_fields(spark):
    """Text after log-status does not stop the reference's match
    (decorator/index.js:43), and the 14 fields are the captures."""
    line = fixtures.EVENT_JSON_LINES[0]
    recs = fixtures.firehose_records_df(spark, [line, line + "DATA extra 7"])
    plain, tailed = (r.asDict() for r in parse_records(recs).orderBy("recordId").collect())
    assert tailed["error"] is False
    assert (tailed["action"], tailed["log-status"], tailed["end"]) == ("ACCEPT", "OK", 1418530070)
    assert _fields(tailed) == _fields(plain)


def test_ansi_hostile_records_never_fail_the_batch(spark):
    """The ANSI crash class (code-review r6): under Spark 4 ANSI defaults a
    single hostile record used to RAISE and kill the whole batch in three
    places — unbase64 on corrupt base64, cast('long') on a regex-valid line
    whose numeric token overflows int64, and ip_to_int on an overflowing
    octet. All three must instead degrade per record (dead-letter /
    NULL-field / geo-default), matching the reference's record-level
    error model (decorator/index.js:100-139, Number() floats and flows)."""
    overflow_line = (
        "2 123456789010 eni-1854f949 72.21.196.65 172.31.16.21 "
        "99999999999999999999 22 6 20 4249 1418530010 1418530070 ACCEPT OK"
    )
    recs = spark.createDataFrame(
        [("rec-b64", "not_base64!!!"),
         ("rec-ovf", base64.b64encode(overflow_line.encode()).decode()),
         ("rec-ok", base64.b64encode(
             fixtures.EVENT_JSON_LINES[0].encode()).decode())],
        "recordId string, data string",
    )
    out = {r["recordId"]: r.asDict() for r in parse_records(recs).collect()}
    # corrupt base64 -> NULL raw -> dead-lettered, batch survives
    assert out["rec-b64"]["error"] is True
    # regex-valid overflow line flows through with the field NULLed
    assert out["rec-ovf"]["error"] is False
    assert out["rec-ovf"]["srcport"] is None
    assert out["rec-ovf"]["dstport"] == 22
    assert out["rec-ok"]["error"] is False

    # ip_to_int on an overflowing octet: NULL, not a raised cast error
    huge = spark.createDataFrame(
        [("99999999999999999999.1.1.1",), ("1.2.3.4",)], "ip string"
    )
    got = {r["ip"]: r["n"] for r in huge.select(
        "ip", ip_to_int("ip").alias("n")).collect()}
    assert got["99999999999999999999.1.1.1"] is None
    assert got["1.2.3.4"] == (1 << 24) + (2 << 16) + (3 << 8) + 4


def test_eni_empty_primary_ip_array_is_outbound(spark):
    """An ENI whose jmespath [?Primary] projection yields an EMPTY ipAddress
    array (IPv6-only interface) must give direction='outbound' — the JS
    `[] == destaddr` comparison is false (decorator/index.js:169-173) —
    not raise INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI (code-review
    r6)."""
    from aws_vpc_flow_log_appender_spark.enrich import join_eni

    parsed = parse_records(_event_json_records(spark))
    eni = spark.createDataFrame(
        [("eni-1854f949", ["sg-1"], [])],
        "interfaceId string, securityGroupIds array<string>, "
        "ipAddress array<string>",
    )
    rows = join_eni(parsed, eni).collect()
    assert all(r["direction"] == "outbound" for r in rows
               if r["interface-id"] == "eni-1854f949")


def test_enrich_event_json_golden(spark):
    parsed = parse_records(_event_json_records(spark))
    enriched = enrich_flow_logs(
        parsed, fixtures.eni_dim_df(spark), fixtures.geo_dim_df(spark)
    )
    rows = {r["srcaddr"]: r.asDict() for r in enriched.collect()}

    pub = rows["72.21.196.65"]
    # ENI match: sg ids + direction (destaddr == primary ip -> inbound)
    assert pub["security-group-ids"] == ["sg-aaaa1111", "sg-bbbb2222"]
    assert pub["direction"] == "inbound"
    # public source in geo range -> Seattle
    assert pub["source-country-code"] == "US"
    assert pub["source-city"] == "Seattle"
    assert pub["source-location"].asDict() == {"lat": 47.6062, "lon": -122.3321}

    priv = rows["10.3.45.44"]
    # RFC1918 source: geo skipped, ''/0 defaults (decorator/index.js:182-190)
    assert priv["source-country-code"] == ""
    assert priv["source-city"] == ""
    assert priv["source-location"].asDict() == {"lat": 0.0, "lon": 0.0}
    assert priv["direction"] == "inbound"


def test_eni_miss_keeps_nulls(spark):
    line = "2 123456789010 eni-miss0001 8.8.8.8 172.31.16.21 1 2 6 1 40 1418530010 1418530070 ACCEPT OK"
    parsed = parse_records(fixtures.firehose_records_df(spark, [line]))
    enriched = enrich_flow_logs(
        parsed, fixtures.eni_dim_df(spark), fixtures.geo_dim_df(spark)
    )
    r = enriched.collect()[0].asDict()
    # no ENI match -> direction and sg-ids stay NULL (decorator/index.js:171-173)
    assert r["direction"] is None
    assert r["security-group-ids"] is None
    # 8.8.8.8 not covered by geo table -> ''/0 defaults, never NULL
    assert r["source-country-code"] == ""
    assert r["source-location"].asDict() == {"lat": 0.0, "lon": 0.0}


def test_geolocation_disabled_static_prune(spark):
    parsed = parse_records(_event_json_records(spark))
    enriched = enrich_flow_logs(
        parsed,
        fixtures.eni_dim_df(spark),
        fixtures.geo_dim_df(spark),
        geolocation_enabled=False,
    )
    rows = enriched.collect()
    assert all(r["source-country-code"] == "" for r in rows)
    # the geo join must be pruned from the plan entirely
    assert "start_ip_int" not in enriched._jdf.queryExecution().executedPlan().toString()


def test_packaged_output_roundtrip(spark):
    recs = fixtures.firehose_records_df(spark)  # seeded 200-line corpus
    out = decorate(recs, fixtures.eni_dim_df(spark), fixtures.geo_dim_df(spark))
    rows = out.collect()
    assert len(rows) == 200  # count(ok) + count(failed) == count(in)
    by_result = {}
    for r in rows:
        by_result.setdefault(r["result"], []).append(r)
    assert set(by_result) == {"Ok", "ProcessingFailed"}
    ok = json.loads(base64.b64decode(by_result["Ok"][0]["data"]))
    assert "interface-id" in ok and "source-location" in ok and "@timestamp" in ok
    # failed payloads pass the original data through unchanged
    failed = by_result["ProcessingFailed"][0]
    assert base64.b64decode(failed["data"]).decode() in {
        "CONTROL line not a flow log",
        "2 123456789010 broken",
        "1 12345 eni-xyz not-an-ip 1.2.3.4 1 2 3 4 5 6 7 DROP OK",
        "",
    }


def test_first_match_join_semantics(spark):
    dup_dim = fixtures.eni_dim_df(spark).unionByName(
        fixtures.eni_dim_df(spark).withColumn(
            "securityGroupIds", F.array(F.lit("sg-DUPLICATE"))
        )
    )
    parsed = parse_records(_event_json_records(spark))
    enriched = enrich_flow_logs(parsed, dup_dim, fixtures.geo_dim_df(spark))
    rows = enriched.collect()
    assert len(rows) == 2  # no fanout from duplicate build-side keys
    # the kept row is the least by the other columns in order, nulls last
    dirty = spark.createDataFrame([
        ("eni-x", None, ["1.1.1.1"]), ("eni-x", ["sg-b"], None),
        ("eni-x", ["sg-a"], None), ("eni-x", ["sg-a"], ["2.2.2.2"]),
    ], ENI_DIM_SCHEMA)
    assert [tuple(r) for r in first_match_dim(dirty).collect()] == [
        ("eni-x", ["sg-a"], ["2.2.2.2"])
    ]


def test_rfc1918_predicate_parity(spark):
    # replicate the reference regex's behavior incl. the 127/8 quirk
    cases = {
        "10.0.0.1": True, "172.16.0.1": True, "172.31.255.255": True,
        "192.168.1.1": True, "127.0.0.1": True,
        "172.32.0.1": False, "11.0.0.1": False, "8.8.8.8": False,
        "192.169.0.1": False,
    }
    df = spark.createDataFrame([(ip,) for ip in cases], ["ip"])
    got = {r["ip"]: r["priv"] for r in df.select("ip", is_rfc1918("ip").alias("priv")).collect()}
    assert got == cases


def test_ip_to_int(spark):
    df = spark.createDataFrame([("0.0.0.0",), ("255.255.255.255",), ("72.21.196.65",)], ["ip"])
    got = [r[0] for r in df.select(ip_to_int("ip")).collect()]
    assert got == [0, 4294967295, (72 << 24) + (21 << 16) + (196 << 8) + 65]


def test_jmespath_projection_equivalent(spark):
    raw = spark.createDataFrame(
        [(
            "eni-1854f949",
            [("sg-1", "web"), ("sg-2", "db")],
            [(False, "10.0.0.9"), (True, "172.31.16.21")],
        )],
        EC2_ENI_RAW_SCHEMA,
    )
    r = project_eni_dim(raw).collect()[0]
    assert r["interfaceId"] == "eni-1854f949"
    assert r["securityGroupIds"] == ["sg-1", "sg-2"]
    assert r["ipAddress"] == ["172.31.16.21"]  # [?Primary] filter keeps a list


def _geo_rows(rng):
    """A geo dim row maker: each attribute is NULL one time in five."""
    def row(s, e, tag):
        def pick(v):
            return None if rng.random() < 0.2 else v
        return (s, e, pick(tag[:2]), pick(tag), pick("R" + tag), pick("reg " + tag),
                pick("city " + tag), pick(rng.uniform(-90, 90)), pick(rng.uniform(-180, 180)))
    return row


# a feed read from files can carry NULL bounds
_FEED_GEO_SCHEMA = StructType([StructField(f.name, f.dataType) for f in GEO_DIM_SCHEMA.fields])


def _dirty_bounds(rng, row):
    """Rows a dirty feed brings that cover no address: NULL bounds, and
    bounds inverted across a /4. Counted in the mean width, the inverted
    rows would drag it below zero."""
    rows = []
    for i in range(4):
        s = rng.randrange(1 << 31)
        rows += [row(s + (1 << 28), s, f"inv{i}"), row(None, s, f"nos{i}"), row(s, None, f"noe{i}")]
    return rows


def _adversarial_geo_dim(rng):
    """Nested country/region/city ranges with the cases a real feed brings:
    ranges that cross /16 and /8 boundaries, same-width ranges overlapping
    at different starts, duplicate [start, end] rows with conflicting
    and null attributes, and dirty bounds. Two ranges cover RFC1918 space,
    which the gate must keep out of the join. Wide ranges: the bucket
    lands coarse."""
    row = _geo_rows(rng)
    rows = [row(10 << 24, (11 << 24) - 1, "private"),
            row((192 << 24) | (168 << 16), (192 << 24) | (168 << 16) | 0xFFFF, "lan")]
    for i, o1 in enumerate((8, 23, 45, 61, 72, 88, 104, 151, 185, 203)):
        cs = o1 << 24
        rows.append(row(cs, cs | 0xFFFFFF, f"c{i}"))
        for j in range(rng.randint(2, 4)):
            rs = cs + rng.randrange(0, (1 << 24) - (1 << 19))
            re_ = rs + rng.randrange(1 << 15, 1 << 18)
            rows.append(row(rs, re_, f"c{i}r{j}"))
            for k in range(rng.randint(1, 3)):
                s = rng.randrange(rs, re_)
                rows.append(row(s, min(re_, s + rng.randrange(0, 4096)), f"c{i}r{j}t{k}"))
        # same width, different starts, overlapping
        s = cs + rng.randrange(0, 1 << 20)
        rows += [row(s, s + 99, f"c{i}a"), row(s + 50, s + 149, f"c{i}b")]
        # crosses the /8 (and /16) boundary into the next country
        rows.append(row(cs | 0xFFF000, ((o1 + 1) << 24) | 0xFFF, f"c{i}x"))
    for r in rng.sample(rows, 15):
        rows.append(row(r[0], r[1], "dup" + str(rng.randrange(3))))
        rows.append((r[0], r[1]) + (None,) * 7)
    rows += _dirty_bounds(rng, row)
    rng.shuffle(rows)
    return rows


def _dense_geo_dim(rng):
    """Ranges narrower than a /16, nested three deep inside a few /16s,
    some crossing into the next /16, plus duplicates and dirty bounds: the
    bucket lands on the /16 floor."""
    row = _geo_rows(rng)
    rows = []
    for i, b in enumerate(rng.sample(range(1, (1 << 16) - 1), 6)):
        for j in range(6):
            rs = (b << 16) + rng.randrange(0, 1 << 16)
            re_ = rs + rng.randrange(1 << 10, 1 << 14)
            rows.append(row(rs, re_, f"b{i}r{j}"))
            for k in range(2):
                s = rng.randrange(rs, re_)
                rows.append(row(s, min(re_, s + rng.randrange(0, 256)), f"b{i}r{j}t{k}"))
    for r in rng.sample(rows, 8):
        rows.append(row(r[0], r[1], "dup" + str(rng.randrange(3))))
    rows += _dirty_bounds(rng, row)
    rng.shuffle(rows)
    return rows


def _ref_ip(addr):
    if addr is None or re.search(RFC1918_PATTERN, addr):
        return None
    parts = addr.split(".")
    if len(parts) < 4 or not all(p.isdigit() and int(p) <= 255 for p in parts[:4]):
        return None
    return sum(int(p) << (24 - 8 * i) for i, p in enumerate(parts[:4]))


def _ref_geo(ranges, addr):
    """The narrowest range covering the address; ties by start, then by the
    attributes with nulls last. ''/0 defaults when gated or uncovered."""
    ip = _ref_ip(addr)
    covering = [r for r in ranges if ip is not None and None not in r[:2] and r[0] <= ip <= r[1]]
    if not covering:
        return ("", "", "", "", "", (0.0, 0.0))
    best = min(covering, key=lambda r: (r[1] - r[0], r[0], *[
        (a is None, a if a is not None else type(d)()) for a, d in zip(r[2:], ("",) * 5 + (0.0,) * 2)
    ]))
    cc, cn, rc, rn, city, lat, lon = best[2:]
    return (cc or "", cn or "", rc or "", rn or "", city or "", (lat or 0.0, lon or 0.0))


def _dotted(ip):
    return ".".join(str((ip >> s) & 255) for s in (24, 16, 8, 0))


@pytest.mark.parametrize("make_dim, shift", [(_adversarial_geo_dim, 20), (_dense_geo_dim, 16)],
                         ids=["nested", "dense"])
def test_join_geo_matches_python_reference(spark, make_dim, shift):
    """Both probe paths match the reference: the inline /16 prep, and the
    prepared dimension at the bucket width it picks (coarse for wide
    ranges, the /16 floor for narrow ones)."""
    rng = random.Random(7)
    ranges = make_dim(rng)
    probes = set()
    for s, e, *_ in ranges:
        for ip in (s - 1, s, e, e + 1) if None not in (s, e) else ():
            if 0 <= ip < 1 << 32:
                probes.add(_dotted(ip))
    probes |= {_dotted(rng.randrange(1 << 32)) for _ in range(300)}
    probes |= {"10.1.2.3", "192.168.0.7", "172.16.5.5", "127.0.0.1",
               "72.21.300.1", "8.8.8.256", "99999999999999999999.1.1.1", "8.8.8", None}
    probes = sorted(probes, key=str)
    facts = spark.createDataFrame(list(enumerate(probes)), "id long, srcaddr string")
    geo = spark.createDataFrame(ranges, _FEED_GEO_SCHEMA)
    flat = flatten_geo_dim(geo)
    assert enrich._prepared_shift(flat) == shift
    # the NULL and inverted bounds do not move the width
    clean = [r for r in ranges if None not in r[:2] and r[0] <= r[1]]
    assert len(clean) < len(ranges)
    assert enrich._bucket_shift(spark.createDataFrame(clean, _FEED_GEO_SCHEMA)) == shift
    want = {i: _ref_geo(ranges, a) for i, a in enumerate(probes)}
    cols = ["source-country-code", "source-country-name", "source-region-code",
            "source-region-name", "source-city"]
    for out in (join_geo(facts, geo), join_geo(facts, flat, dim_is_disjoint=True)):
        rows = out.collect()
        assert len(rows) == len(probes)
        got = {r["id"]: (*[r[c] for c in cols], tuple(r["source-location"])) for r in rows}
        assert got == want


def test_join_geo_refuses_a_dim_without_its_width(spark):
    """A prepared dimension must be probed at the width it was built with;
    one that does not carry it (built some other way, or not prepared at
    all) fails before any plan is built."""
    geo = fixtures.geo_dim_df(spark)
    facts = spark.createDataFrame([("72.21.196.65",)], "srcaddr string")
    for dim in (enrich._flatten(geo, 16), geo):
        with pytest.raises(ValueError, match="no bucket width"):
            join_geo(facts, dim, dim_is_disjoint=True)


def test_decorate_plan_build_is_a_few_jvm_calls(spark, monkeypatch):
    """Each stage's Column expressions are built once per SparkContext, so a
    micro-batch's plan costs a few py4j round trips per select/join, not
    one or more per F.* call (~3k when every call built its own)."""
    eni, flat = fixtures.eni_dim_df(spark), fixtures.geo_dim_flat_df(spark)
    lines = spark.createDataFrame([(ln,) for ln in fixtures.EVENT_JSON_LINES], "value string")

    def build():
        return decorate_lines(lines, eni, flat, unique_ids=True, geo_dim_is_disjoint=True)

    build()
    calls = []
    me = threading.get_ident()
    send = py4j.java_gateway.GatewayClient.send_command

    def counted(self, *args, **kwargs):
        if threading.get_ident() == me:
            calls.append(args[0].split("\n", 3)[:3])
        return send(self, *args, **kwargs)

    monkeypatch.setattr(py4j.java_gateway.GatewayClient, "send_command", counted)
    out = build()
    monkeypatch.undo()
    assert len(calls) <= 160, len(calls)  # 152 measured
    assert out.count() == len(fixtures.EVENT_JSON_LINES)


def _sha(line):
    return hashlib.sha256(line.encode()).hexdigest()


def _payloads(out):
    """recordId -> (result, payload): the decoded JSON without its
    processing-time @timestamp for Ok rows, the decoded text otherwise."""
    got = {}
    for r in out.collect():
        data = base64.b64decode(r["data"])
        if r["result"] == "Ok":
            data = json.loads(data)
            del data["@timestamp"]
        else:
            data = data.decode()
        got[r["recordId"]] = (r["result"], data)
    return got


def test_stage_memo_keys_do_not_leak(spark):
    """The stage expressions are memoized by the inputs they depend on:
    calls that differ in one of them, made back to back in one session,
    each get their own."""
    eni, geo = fixtures.eni_dim_df(spark), fixtures.geo_dim_df(spark)
    pub, priv = fixtures.EVENT_JSON_LINES
    bad = "not a flow log"
    lines = [pub, pub, priv, bad]
    # each frame carries the other line column too, full of unparseable text
    value = spark.createDataFrame([(ln, bad) for ln in lines], "value string, Data string")
    data = spark.createDataFrame([(ln, bad) for ln in lines], "Data string, value string")

    by_value = _payloads(decorate_lines(value, eni, geo))
    assert set(by_value) == {_sha(pub), _sha(priv), _sha(bad)}  # repeats collide
    ok = by_value[_sha(pub)]
    assert ok[0] == "Ok" and ok[1]["source-city"] == "Seattle"
    assert ok[1]["security-group-ids"] == ["sg-aaaa1111", "sg-bbbb2222"]
    assert by_value[_sha(priv)][1]["source-city"] == ""  # RFC1918: gated
    assert by_value[_sha(bad)] == ("ProcessingFailed", bad)
    assert _payloads(decorate_lines(data, eni, geo, line_col="Data")) == by_value

    uniq = _payloads(decorate_lines(value, eni, geo, unique_ids=True))
    assert set(uniq) == {_sha(pub) + "-1", _sha(pub) + "-2", _sha(priv) + "-1", _sha(bad) + "-1"}
    assert uniq[_sha(pub) + "-2"] == ok

    no_geo = _payloads(decorate_lines(value, eni, geo, geolocation_enabled=False))
    result, rec = no_geo[_sha(pub)]
    assert result == "Ok" and rec["source-city"] == "" and rec["source-country-code"] == ""
    assert rec["source-location"] == {"lat": 0.0, "lon": 0.0}
    geo_cols = {"source-country-code", "source-country-name", "source-region-code",
                "source-region-name", "source-city", "source-location"}
    assert ({k: v for k, v in rec.items() if k not in geo_cols}
            == {k: v for k, v in ok[1].items() if k not in geo_cols})

    # base64 Firehose framing: the payload is decoded before parsing, and a
    # failed record's original payload passes through
    framed = _payloads(decorate(fixtures.firehose_records_df(spark, lines), eni, geo))
    assert framed == {"rec-000000": ok, "rec-000001": ok,
                      "rec-000002": by_value[_sha(priv)], "rec-000003": by_value[_sha(bad)]}

    # an ENI dim with an extra column: it rides along under its own name,
    # and the security groups and direction still come from their columns
    parsed = parse_lines(value)
    eni_x = eni.select(F.lit("acct-1").alias("owner"), *eni.columns)
    wide = enrich_flow_logs(parsed, eni_x, geo)
    assert not [c for c in wide.columns if c.startswith("__eni")]
    plain = enrich_flow_logs(parsed, eni, geo).columns
    assert wide.columns == [*plain[:-8], "owner", *plain[-8:]]  # 8 = 2 ENI + 6 geo
    for r in wide.filter(~F.col("error")).collect():
        assert (r["owner"], r["security-group-ids"], r["direction"]) == (
            "acct-1", ["sg-aaaa1111", "sg-bbbb2222"], "inbound")
    assert _payloads(decorate_lines(value, eni, geo)) == by_value
