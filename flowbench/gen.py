"""Seeded input generator and pure-Python expectations for the flow-log bench.

Everything the program under test reads is written here from a seed: the
CloudWatch envelope files (batch), the line files (stream), a nested
GeoIP-style range dimension and an ENI dimension that lists some interface ids
twice.

The traffic is the reference's documented end-to-end test (README.md:93-132
of the reference, summarised in SURVEY.md section 5.1 and the table of
section 6): the Kinesis Data Generator sends 50 records/s from the template
``2 <<ACCOUNT_ID>> <<ENI_ID>> {{internet.ip}} 10.100.2.48 45928 6379 6 ...
ACCEPT OK``, and the ingestor hands Firehose 500-record batches
(ingestor/index.js:84). So every line is well formed, names one interface,
and has a random source address. Values the documentation leaves open are the
assumptions in :data:`TRAFFIC`; README.md in this directory lists them.

The expectation side (:func:`expect`) applies the reference decorator's
semantics in plain Python -- the unanchored parse regex, lodash-style ENI
lookup, the RFC1918 gate and the most-specific covering geo range -- so it
shares no code with the Spark program it checks.
"""

from __future__ import annotations

import base64
import bisect
import gzip
import json
import random
import re
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

TRAFFIC = {
    # documented
    "rate_per_s": 50,              # KDG setting, reference README.md:103
    "put_records": 500,            # ingestor flush threshold, ingestor/index.js:84
    "flow_eni_ip": "10.100.2.48",  # the template's fixed destination
    # assumptions
    "events_per_envelope": 50,     # one envelope per second of traffic
    "eni_rows": 200,               # interfaces in the account's listing
    "eni_dup_share": 0.1,          # of those, listed twice
    "countries": 200,              # one public /8 each; the other 16 are gaps
    "regions": 8,                  # per country, 20% left out as gaps
    "cities": 18,                  # per region, 20% left out as gaps
}

# decorator/index.js:43 -- anchored at the start only, so a trailing "\n"
# from the ingestor's framing is never captured into log-status.
REFERENCE_LINE = re.compile(
    r"^(\d) (\d+) (eni-\w+) (\d+\.\d+\.\d+\.\d+) (\d+\.\d+\.\d+\.\d+) "
    r"(\d+) (\d+) (\d+) (\d+) (\d+) (\d+) (\d+) (ACCEPT|REJECT) "
    r"(OK|NODATA|SKIPDATA)"
)
# decorator/index.js:149-153, loopback quirk included.
RFC1918 = re.compile(
    r"(^127\.)|(^10\.)|(^172\.1[6-9]\.)|(^172\.2[0-9]\.)|(^172\.3[0-1]\.)|(^192\.168\.)"
)
NON_PUBLIC_FIRST_OCTETS = {0, 10, 100, 127, 169, 172, 192}


def ip_str(n: int) -> str:
    return f"{n >> 24}.{(n >> 16) & 255}.{(n >> 8) & 255}.{n & 255}"


def ip_int(s: str) -> int:
    a, b, c, d = (int(x) for x in s.split("."))
    return (a << 24) | (b << 16) | (c << 8) | d


def _code(i: int) -> str:
    return chr(65 + (i // 26) % 26) + chr(65 + i % 26)


@dataclass
class Dims:
    """The two dimensions plus the lookup structures the expectation uses."""

    eni_rows: list[tuple[str, list[str], list[str]]]
    eni_first: dict[str, tuple[list[str], list[str]]]
    flow_eni: str   # the template's <<ENI_ID>>: the interface every line names
    geo_rows: list[tuple]
    # nested tree: [(start, end, row, [(start, end, row, [...]), ...]), ...]
    geo_tree: list

    def geo_lookup(self, ip: int):
        """The most specific (deepest) range covering ``ip``, or None."""
        level, best = self.geo_tree, None
        while level:
            i = bisect.bisect_right(level, (ip, float("inf"))) - 1
            if i < 0 or not (level[i][0] <= ip <= level[i][1]):
                break
            best = level[i][2]
            level = level[i][3]
        return best


def make_dims(rng: random.Random, t: dict) -> Dims:
    """The account's ENI listing (some ids listed twice, as a paginated listing
    can), holding the flow-logged interface whose primary IP is the template's
    destination; and a country > region > city range dimension that tiles the
    public IPv4 space with gaps."""
    eni_rows = []
    for k in range(t["eni_rows"]):
        eid = f"eni-{rng.getrandbits(32):08x}"
        sgs = sorted({f"sg-{rng.getrandbits(32):08x}" for _ in range(rng.randint(1, 3))})
        ip = [t["flow_eni_ip"] if k == 0 else f"172.31.{rng.randint(0, 255)}.{rng.randint(1, 254)}"]
        eni_rows.append((eid, sgs, ip))
        if rng.random() < t["eni_dup_share"]:
            # a second listing of the same interface: same primary IP, a
            # non-empty (stale) group list -- direction and sg presence agree
            eni_rows.append((eid, sorted(sgs + [f"sg-{rng.getrandbits(32):08x}"]), ip))
    flow_eni = eni_rows[0][0]
    rng.shuffle(eni_rows)
    eni_first = {}  # lodash.find: the first listing wins
    for eid, sgs, ip in eni_rows:
        eni_first.setdefault(eid, (sgs, ip))

    firsts = [f for f in range(1, 224) if f not in NON_PUBLIC_FIRST_OCTETS]
    geo_rows, tree = [], []
    for ci, f in enumerate(sorted(rng.sample(firsts, t["countries"]))):
        start = f << 24
        end = start + (1 << 24) - 1
        cc = _code(ci)
        crow = (start, end, cc, f"Country {cc}", "", "", "", float(ci % 90), float(ci % 180))
        regions = []
        rsize = (end - start + 1) // t["regions"]
        for ri in range(t["regions"]):
            if rng.random() < 0.2:
                continue  # gap: IPs here resolve to the country row
            rs = start + ri * rsize
            re_ = rs + rsize - 1 - rng.randint(0, rsize // 4)
            rc = f"R{ri}"
            rrow = (rs, re_, cc, f"Country {cc}", rc, f"Region {cc}{ri}", "",
                    float(ci % 90) + ri / 10, float(ci % 180) + ri / 10)
            cities = []
            csize = (re_ - rs + 1) // t["cities"]
            for k in range(t["cities"]):
                if rng.random() < 0.2:
                    continue
                cs = rs + k * csize
                ce = cs + csize - 1 - rng.randint(0, csize // 4)
                crow3 = (cs, ce, cc, f"Country {cc}", rc, f"Region {cc}{ri}",
                         f"City {cc}{ri}-{k}", float(ci % 90) + ri / 10 + k / 100,
                         float(ci % 180) + ri / 10 + k / 100)
                cities.append((cs, ce, crow3, []))
                geo_rows.append(crow3)
            regions.append((rs, re_, rrow, cities))
            geo_rows.append(rrow)
        tree.append((start, end, crow, regions))
        geo_rows.append(crow)
    rng.shuffle(geo_rows)
    return Dims(eni_rows, eni_first, flow_eni, geo_rows, tree)


def make_lines(rng: random.Random, t: dict, dims: Dims, n: int, first: int = 0) -> list[str]:
    """``n`` lines from the KDG template, numbered from ``first``. The source
    is four uniform octets (faker's ``internet.ip``); the fields the template
    elides (packets, bytes, start, end) are filled in the shape of
    ``fixtures.make_lines``, with start advancing at the documented rate."""
    out = []
    for i in range(first, first + n):
        start = 1418530010 + i // t["rate_per_s"]
        out.append(
            f"2 123456789010 {dims.flow_eni} {ip_str(rng.getrandbits(32))} {t['flow_eni_ip']} "
            f"45928 6379 6 {rng.randint(1, 500)} {rng.randint(40, 100000)} "
            f"{start} {start + 60} ACCEPT OK"
        )
    return out


def make_envelopes(t: dict, lines: list[str]) -> list[str]:
    """Pack lines into base64(gzip(JSON)) CloudWatch DATA_MESSAGE envelopes."""
    per = t["events_per_envelope"]
    envelopes = []
    for k in range(0, len(lines), per):
        doc = {
            "messageType": "DATA_MESSAGE",
            "owner": "123456789010", "logGroup": "flowlogs", "logStream": "eni-flowlogs",
            "subscriptionFilters": ["all"],
            "logEvents": [{"id": str(k + j), "timestamp": 1418530010000 + k + j, "message": m}
                          for j, m in enumerate(lines[k:k + per])],
        }
        envelopes.append(base64.b64encode(gzip.compress(json.dumps(doc).encode(), 6)).decode())
    return envelopes


def write_dims(dims: Dims, eni_path: str, geo_path: str) -> None:
    eni = pa.table({
        "interfaceId": [r[0] for r in dims.eni_rows],
        "securityGroupIds": [r[1] for r in dims.eni_rows],
        "ipAddress": [r[2] for r in dims.eni_rows],
    })
    pq.write_table(eni, eni_path)
    cols = ["start_ip_int", "end_ip_int", "country_code", "country_name", "region_code",
            "region_name", "city", "latitude", "longitude"]
    types = [pa.int64(), pa.int64()] + [pa.string()] * 5 + [pa.float64()] * 2
    geo = pa.table({c: pa.array([r[i] for r in dims.geo_rows], type=ty)
                    for i, (c, ty) in enumerate(zip(cols, types))})
    pq.write_table(geo, geo_path)


def record_view(data: str, dims: Dims) -> dict:
    """The reference decorator's view of one record (decorator/index.js
    :100-190): result, and for Ok rows direction, sg presence, country code
    and log-status."""
    m = REFERENCE_LINE.match(data)
    if not m:
        return {"result": "ProcessingFailed"}
    g = m.groups()
    eni = dims.eni_first.get(g[2])
    direction = None
    if eni is not None:
        direction = "inbound" if g[4] == eni[1][0] else "outbound"
    cc = ""
    if not RFC1918.search(g[3]):
        row = dims.geo_lookup(ip_int(g[3]))
        if row is not None:
            cc = row[2]
    return {"result": "Ok", "direction": direction, "sg_present": eni is not None,
            "country_code": cc, "log_status": g[13]}


HISTOGRAMS = ("result", "direction", "sg_present", "country_code", "log_status")


def expect(records: list[str], dims: Dims) -> tuple[dict, dict]:
    """Expected histograms over ``records`` (the exact strings the decorator
    receives; non-result histograms count Ok rows only), and the measured
    traffic properties of those records."""
    hist = {h: Counter() for h in HISTOGRAMS}
    views: dict[str, dict] = {}
    for data in records:
        v = views.get(data)
        if v is None:
            v = views[data] = record_view(data, dims)
        for h in HISTOGRAMS:
            if h in v:
                hist[h][v[h]] += 1
    n, ok = len(records), sum(hist["result"].values()) - hist["result"]["ProcessingFailed"]
    geo_hits = sum(c for cc, c in hist["country_code"].items() if cc)
    public = sum(1 for data in views if not RFC1918.search(data.split(" ")[3]))
    summary = {
        "records": n,
        "public_source_share": round(public / max(len(views), 1), 4),
        "malformed_share": round(1 - ok / n, 4),
        "duplicate_share": round(1 - len(views) / n, 4),
        "eni_hit_rate": round(hist["sg_present"][True] / max(ok, 1), 4),
        "geo_hit_share": round(geo_hits / max(ok, 1), 4),
        "geo_ranges": len(dims.geo_rows),
        "eni_rows": len(dims.eni_rows),
        "eni_duplicate_ids": len(dims.eni_rows) - len(dims.eni_first),
    }
    return {h: dict(c) for h, c in hist.items()}, summary
