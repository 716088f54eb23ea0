"""Flagship query: the reference decorator's end-to-end pipeline
(parse -> ENI join -> direction -> geo range join -> package, SURVEY §3.2)
run over flow-log lines deterministically synthesized from the driver's
events table — so the whole pipeline is verifiable against a DuckDB oracle
on shared inputs.

Line synthesis is pure Column arithmetic (no randomness, no UDFs): every
field derives from event_id/user_id/event_type/ts. 'error' events become
malformed lines to exercise the dead-letter branch (decorator/index.js:133-139).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fixtures
from .enrich import join_eni
from .functions import fdiv_sql, round_half_up
from .operators.registry import load, query
from .pipeline import decorate_lines, enrich_flow_logs
from .parse import parse_lines
from .streaming.transform_state import (
    CUSUM_H_MILLI,
    CUSUM_K_MILLI,
    cusum_drift_batch,
)

# Fixture constants shared by the Spark expressions and the DuckDB oracle SQL.
_ENI_IDS = [e[0] for e in fixtures.ENIS] + ["eni-miss0001", "eni-miss0002"]
_ENI_PRIMARY = [e[2][0] for e in fixtures.ENIS] + ["172.31.16.99", "172.31.16.99"]
_ENI_SGS = [",".join(e[1]) for e in fixtures.ENIS]
_PUBLIC = fixtures.PUBLIC_IPS
_PRIVATE = fixtures.PRIVATE_IPS
_DSTPORTS = [22, 80, 443, 6379]
# Index moduli DERIVED from the lists, never hardcoded (code-review r6:
# '% 6' and 6-element SQL literals were hand-duplicated across the Spark
# synthesis, the oracle CTE, and the CUSUM key — growing fixtures.ENIS
# would silently desynchronize Spark and oracle while parity tests kept
# passing on the stale corpus). Every site below indexes list[x % len].
_N_ENI = len(_ENI_IDS)
assert len(_ENI_PRIMARY) == _N_ENI
_N_PUBLIC = len(_PUBLIC)
_N_PRIVATE = len(_PRIVATE)
_N_DSTPORTS = len(_DSTPORTS)


def synth_flow_lines(events: DataFrame) -> DataFrame:
    """events rows -> one deterministic flow-log v2 line per event (column
    ``value``), mixing public/private sources, ENI hits/misses, inbound/
    outbound destinations, and malformed lines.

    The whole line is ONE selectExpr string: identical plan to the previous
    Column-API composition (verified), but the ~60 array-literal/when py4j
    round trips collapse into a single call (~0.2 s of driver time per
    invocation at any scale)."""
    def arr(values, quote=True):
        items = ", ".join(f"'{v}'" if quote else str(v) for v in values)
        return f"array({items})"

    line = f"""concat_ws(' ',
      '2', '123456789010',
      element_at({arr(_ENI_IDS)}, CAST(user_id % {_N_ENI} + 1 AS INT)),
      CASE WHEN event_type IN ('click', 'view')
           THEN element_at({arr(_PUBLIC)}, CAST(event_id % {_N_PUBLIC} + 1 AS INT))
           ELSE element_at({arr(_PRIVATE)}, CAST(event_id % {_N_PRIVATE} + 1 AS INT)) END,
      CASE WHEN user_id % 3 = 0
           THEN element_at({arr(_ENI_PRIMARY)}, CAST(user_id % {_N_ENI} + 1 AS INT))
           ELSE '172.31.16.99' END,
      CAST(1024 + event_id % 60000 AS STRING),
      CAST(element_at({arr(_DSTPORTS, quote=False)}, CAST(user_id % {_N_DSTPORTS} + 1 AS INT)) AS STRING),
      CAST(CASE WHEN event_id % 2 = 0 THEN 6 ELSE 17 END AS STRING),
      CAST(1 + event_id % 500 AS STRING),
      CAST(40 + (event_id * 97) % 100000 AS STRING),
      CAST(unix_timestamp(ts) AS STRING),
      CAST(unix_timestamp(ts) + 60 AS STRING),
      CASE WHEN event_id % 4 = 0 THEN 'REJECT' ELSE 'ACCEPT' END,
      CASE WHEN event_id % 10 = 0 THEN 'NODATA'
           WHEN event_id % 10 = 1 THEN 'SKIPDATA' ELSE 'OK' END)"""
    malformed = "concat('MALFORMED ', CAST(event_id AS STRING))"
    # The parse stage downstream is CPU-bound (validity regex + sha2 recordId
    # + split per line) but a small events.parquet arrives as ONE input split,
    # so without this the whole pipeline inherits single-task parallelism
    # (profiled: every flagship stage ran (0+1)/1 at sf0.1). A real ingest
    # source (Kinesis shards / many log files) arrives pre-partitioned; the
    # synthetic stand-in must match that shape. Round-robin repartition —
    # there is no key; the lines are independent.
    return events.repartition(
        events.sparkSession.sparkContext.defaultParallelism
    ).selectExpr(
        f"CASE WHEN event_type = 'error' THEN {malformed} ELSE {line} END AS value"
    )


def flagship_flowlog_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entry() body: full decorator parity -> (recordId, result, data)."""
    lines = synth_flow_lines(load(spark, sf_dir, "events"))
    return decorate_lines(
        lines, fixtures.eni_dim_df(spark), fixtures.geo_dim_flat_df(spark),
        geo_dim_is_disjoint=True,
    )


def _sql_list(values, quote=True):
    if quote:
        return ", ".join(f"'{v}'" for v in values)
    return ", ".join(str(v) for v in values)


def _geo_values_sql() -> str:
    rows = []
    for s, e, cc, cn, rc, rn, city, lat, lon in fixtures.GEO_ROWS:
        rows.append(
            f"({fixtures._ip_to_int(s)}, {fixtures._ip_to_int(e)}, '{cc}', '{cn}', "
            f"'{rc}', '{rn}', '{city}', {lat}, {lon})"
        )
    return ",\n           ".join(rows)


def _eni_values_sql() -> str:
    rows = [
        f"('{eid}', '{sg}', '{ip[0]}')"
        for (eid, sgl, ip), sg in zip(fixtures.ENIS, _ENI_SGS)
    ]
    return ", ".join(rows)


# The shared oracle CTE chain (lines -> parsed -> typed -> enriched) is reused
# by the flagship oracle and the flow-log domain analytics oracles below.
_ORACLE_CTES = f"""
lines AS (
  SELECT CASE WHEN event_type = 'error' THEN 'MALFORMED ' || CAST(event_id AS VARCHAR)
         ELSE
           '2 123456789010 '
           || ([{_sql_list(_ENI_IDS)}])[CAST(user_id % {_N_ENI} + 1 AS INTEGER)]
           || ' '
           || (CASE WHEN event_type IN ('click', 'view')
                THEN ([{_sql_list(_PUBLIC)}])[CAST(event_id % {_N_PUBLIC} + 1 AS INTEGER)]
                ELSE ([{_sql_list(_PRIVATE)}])[CAST(event_id % {_N_PRIVATE} + 1 AS INTEGER)] END)
           || ' '
           || (CASE WHEN user_id % 3 = 0
                THEN ([{_sql_list(_ENI_PRIMARY)}])[CAST(user_id % {_N_ENI} + 1 AS INTEGER)]
                ELSE '172.31.16.99' END)
           || ' ' || CAST(1024 + event_id % 60000 AS VARCHAR)
           || ' ' || CAST(([{_sql_list(_DSTPORTS, quote=False)}])[CAST(user_id % {_N_DSTPORTS} + 1 AS INTEGER)] AS VARCHAR)
           || ' ' || CAST(CASE WHEN event_id % 2 = 0 THEN 6 ELSE 17 END AS VARCHAR)
           || ' ' || CAST(1 + event_id % 500 AS VARCHAR)
           || ' ' || CAST(40 + (event_id * 97) % 100000 AS VARCHAR)
           || ' ' || CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR)
           || ' ' || CAST(CAST(floor(epoch(ts)) AS BIGINT) + 60 AS VARCHAR)
           || ' ' || (CASE WHEN event_id % 4 = 0 THEN 'REJECT' ELSE 'ACCEPT' END)
           || ' ' || (CASE WHEN event_id % 10 = 0 THEN 'NODATA'
                           WHEN event_id % 10 = 1 THEN 'SKIPDATA' ELSE 'OK' END)
         END AS value
  FROM events
), parsed AS (
  SELECT record_id, m <> '' AS valid, string_split(m, ' ') AS t
  FROM (
    SELECT sha256(value) AS record_id,
           regexp_extract(value,
             '^(\\d) (\\d+) (eni-\\w+) (\\d+\\.\\d+\\.\\d+\\.\\d+) (\\d+\\.\\d+\\.\\d+\\.\\d+) (\\d+) (\\d+) (\\d+) (\\d+) (\\d+) (\\d+) (\\d+) (ACCEPT|REJECT) (OK|NODATA|SKIPDATA)'
           ) AS m
    FROM lines
  )
), typed AS (
  SELECT record_id,
         CASE WHEN valid THEN 0 ELSE 1 END AS error_flag,
         CASE WHEN valid THEN CAST(t[1] AS BIGINT) END AS version,
         CASE WHEN valid THEN CAST(t[2] AS BIGINT) END AS account_id,
         CASE WHEN valid THEN t[3] END AS interface_id,
         CASE WHEN valid THEN t[4] END AS srcaddr,
         CASE WHEN valid THEN t[5] END AS destaddr,
         CASE WHEN valid THEN CAST(t[6] AS BIGINT) END AS srcport,
         CASE WHEN valid THEN CAST(t[7] AS BIGINT) END AS dstport,
         CASE WHEN valid THEN CAST(t[8] AS BIGINT) END AS protocol,
         CASE WHEN valid THEN CAST(t[9] AS BIGINT) END AS packets,
         CASE WHEN valid THEN CAST(t[10] AS BIGINT) END AS bytes,
         CASE WHEN valid THEN CAST(t[11] AS BIGINT) END AS start_s,
         CASE WHEN valid THEN CAST(t[12] AS BIGINT) END AS end_s,
         CASE WHEN valid THEN t[13] END AS action,
         CASE WHEN valid THEN t[14] END AS log_status
  FROM parsed
), enriched AS (
  SELECT p.*,
         e.sg AS sg_ids,
         CASE WHEN e.interfaceId IS NOT NULL
              THEN CASE WHEN p.destaddr = e.primary_ip THEN 'inbound' ELSE 'outbound' END
         END AS direction,
         CASE WHEN p.srcaddr IS NOT NULL
               AND NOT regexp_matches(p.srcaddr,
                 '(^127\\.)|(^10\\.)|(^172\\.1[6-9]\\.)|(^172\\.2[0-9]\\.)|(^172\\.3[0-1]\\.)|(^192\\.168\\.)')
              THEN CAST(string_split(p.srcaddr, '.')[1] AS BIGINT) * 16777216
                 + CAST(string_split(p.srcaddr, '.')[2] AS BIGINT) * 65536
                 + CAST(string_split(p.srcaddr, '.')[3] AS BIGINT) * 256
                 + CAST(string_split(p.srcaddr, '.')[4] AS BIGINT)
         END AS ip_int
  FROM typed p
  LEFT JOIN (VALUES {_eni_values_sql()})
       AS e(interfaceId, sg, primary_ip)
    ON p.interface_id = e.interfaceId
)
"""

FLAGSHIP_ORACLE = f"""
WITH {_ORACLE_CTES}
SELECT en.record_id, en.error_flag, en.version, en.account_id, en.interface_id,
       en.srcaddr, en.destaddr, en.srcport, en.dstport, en.protocol, en.packets,
       en.bytes, en.start_s, en.end_s, en.action, en.log_status, en.sg_ids,
       en.direction,
       CASE WHEN en.error_flag = 0 THEN coalesce(g.country_code, '') END AS source_country_code,
       CASE WHEN en.error_flag = 0 THEN coalesce(g.country_name, '') END AS source_country_name,
       CASE WHEN en.error_flag = 0 THEN coalesce(g.region_code, '') END AS source_region_code,
       CASE WHEN en.error_flag = 0 THEN coalesce(g.region_name, '') END AS source_region_name,
       CASE WHEN en.error_flag = 0 THEN coalesce(g.city, '') END AS source_city,
       CASE WHEN en.error_flag = 0 THEN coalesce(g.latitude, 0.0) END AS source_lat,
       CASE WHEN en.error_flag = 0 THEN coalesce(g.longitude, 0.0) END AS source_lon
FROM enriched en
LEFT JOIN (VALUES {_geo_values_sql()})
     AS g(start_ip_int, end_ip_int, country_code, country_name, region_code,
          region_name, city, latitude, longitude)
  ON en.ip_int >= g.start_ip_int AND en.ip_int <= g.end_ip_int
"""


@query("flowlog_enrich", oracle=FLAGSHIP_ORACLE, tags=("flagship", "pipeline"))
def flowlog_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline's enriched output (pre-packaging, minus the
    processing-time @timestamp) flattened to oracle-safe columns."""
    lines = synth_flow_lines(load(spark, sf_dir, "events"))
    parsed = parse_lines(lines)
    enriched = enrich_flow_logs(
        parsed, fixtures.eni_dim_df(spark), fixtures.geo_dim_flat_df(spark),
        geo_dim_is_disjoint=True,
    )
    return enrich_oracle_projection(enriched)


def enrich_oracle_projection(enriched: DataFrame) -> DataFrame:
    """Flatten the enriched frame to the oracle-safe columns FLAGSHIP_ORACLE
    compares (shared by the batch flagship and its streaming twin — a
    drifted copy would let batch and stream silently diverge)."""
    err = F.col("error")
    return enriched.select(
        # parse_lines already derived recordId = sha2(line); re-hashing here
        # would be a second per-row SHA-256 and a sync hazard
        F.col("recordId").alias("record_id"),
        err.cast("int").alias("error_flag"),
        F.col("version"),
        F.col("`account-id`").alias("account_id"),
        F.col("`interface-id`").alias("interface_id"),
        "srcaddr",
        "destaddr",
        "srcport",
        "dstport",
        "protocol",
        "packets",
        "bytes",
        F.col("start").alias("start_s"),
        F.col("end").alias("end_s"),
        "action",
        F.col("`log-status`").alias("log_status"),
        F.when(
            F.col("`security-group-ids`").isNotNull(),
            F.concat_ws(",", F.col("`security-group-ids`")),
        ).alias("sg_ids"),
        "direction",
        F.when(~err, F.col("`source-country-code`")).alias("source_country_code"),
        F.when(~err, F.col("`source-country-name`")).alias("source_country_name"),
        F.when(~err, F.col("`source-region-code`")).alias("source_region_code"),
        F.when(~err, F.col("`source-region-name`")).alias("source_region_name"),
        F.when(~err, F.col("`source-city`")).alias("source_city"),
        F.when(~err, F.col("`source-location`.lat")).alias("source_lat"),
        F.when(~err, F.col("`source-location`.lon")).alias("source_lon"),
    )


# ---------------------------------------------------------------------------
# Flow-log domain analytics — the queries the reference's downstream
# Elasticsearch/Kibana exists to answer (README.md:5: "search, analyze, and
# visualize"), expressed directly on the engine.
# ---------------------------------------------------------------------------


def _valid_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = synth_flow_lines(load(spark, sf_dir, "events"))
    return parse_lines(lines).filter(~F.col("error"))


@query(
    "flowlog_top_talkers",
    oracle=f"""
    WITH {_ORACLE_CTES}
    SELECT srcaddr, CAST(sum(bytes) AS BIGINT) AS total_bytes,
           CAST(sum(packets) AS BIGINT) AS total_packets,
           CAST(count(*) AS BIGINT) AS n_flows,
           CAST(count(DISTINCT dstport) AS BIGINT) AS n_ports
    FROM typed WHERE error_flag = 0
    GROUP BY srcaddr
    ORDER BY total_bytes DESC, srcaddr
    LIMIT 10
    """,
    tags=("flowlog", "domain"),
)
def flowlog_top_talkers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 sources by transferred bytes (classic flow-log triage query)."""
    return (
        _valid_parsed(spark, sf_dir)
        .groupBy("srcaddr")
        .agg(
            F.sum("bytes").alias("total_bytes"),
            F.sum("packets").alias("total_packets"),
            F.count("*").alias("n_flows"),
            F.countDistinct("dstport").alias("n_ports"),
        )
        .orderBy(F.desc("total_bytes"), F.asc("srcaddr"))
        .limit(10)
    )


@query(
    "flowlog_rejected_by_port",
    oracle=f"""
    WITH {_ORACLE_CTES}
    SELECT dstport, protocol,
           CAST(count(*) AS BIGINT) AS n_rejected,
           CAST(count(DISTINCT srcaddr) AS BIGINT) AS n_distinct_sources
    FROM typed WHERE error_flag = 0 AND action = 'REJECT'
    GROUP BY dstport, protocol
    """,
    tags=("flowlog", "domain", "security"),
)
def flowlog_rejected_by_port(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REJECT counts per destination port/protocol with distinct-source
    fan-in — the port-scan / blocked-traffic detection shape."""
    return (
        _valid_parsed(spark, sf_dir)
        .filter(F.col("action") == "REJECT")
        .groupBy("dstport", "protocol")
        .agg(
            F.count("*").alias("n_rejected"),
            F.countDistinct("srcaddr").alias("n_distinct_sources"),
        )
    )


@query(
    "flowlog_bytes_per_security_group",
    oracle=f"""
    WITH {_ORACLE_CTES}
    SELECT security_group,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           CAST(count(*) AS BIGINT) AS n_flows
    FROM (
      SELECT unnest(string_split(sg_ids, ',')) AS security_group, bytes
      FROM enriched WHERE error_flag = 0 AND sg_ids IS NOT NULL
    )
    GROUP BY security_group
    """,
    tags=("flowlog", "domain"),
)
def flowlog_bytes_per_security_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic attribution per security group: the enrichment join's payoff —
    explode the appended sg array and aggregate bytes against it."""
    enriched = join_eni(_valid_parsed(spark, sf_dir), fixtures.eni_dim_df(spark))
    return (
        enriched.filter(F.col("`security-group-ids`").isNotNull())
        .select(
            F.explode("`security-group-ids`").alias("security_group"), "bytes"
        )
        .groupBy("security_group")
        .agg(F.sum("bytes").alias("total_bytes"), F.count("*").alias("n_flows"))
    )


@query(
    "flowlog_traffic_by_direction",
    oracle=f"""
    WITH {_ORACLE_CTES}
    SELECT coalesce(direction, 'unknown') AS direction,
           action,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           CAST(count(*) AS BIGINT) AS n_flows
    FROM enriched WHERE error_flag = 0
    GROUP BY 1, 2
    """,
    tags=("flowlog", "domain"),
)
def flowlog_traffic_by_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inbound/outbound/unknown split by action — exercises the NULL-direction
    semantics of the ENI-miss branch (decorator/index.js:171-173)."""
    enriched = join_eni(_valid_parsed(spark, sf_dir), fixtures.eni_dim_df(spark))
    return (
        enriched.groupBy(
            F.coalesce("direction", F.lit("unknown")).alias("direction"), "action"
        )
        .agg(F.sum("bytes").alias("total_bytes"), F.count("*").alias("n_flows"))
    )


@query(
    "flowlog_conversations",
    oracle=f"""
    WITH {_ORACLE_CTES}
    SELECT srcaddr, destaddr, dstport,
           CAST(count(*) AS BIGINT) AS n_flows,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           CAST(min(start_s) AS BIGINT) AS first_seen,
           CAST(max(end_s) AS BIGINT) AS last_seen,
           CAST(max(end_s) - min(start_s) AS BIGINT) AS span_s,
           CAST(count(DISTINCT srcport) AS BIGINT) AS n_src_ports
    FROM typed WHERE error_flag = 0
    GROUP BY srcaddr, destaddr, dstport
    """,
    tags=("flowlog", "domain"),
)
def flowlog_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connection/conversation tracking: flows rolled up per
    (src, dst, service port) with first/last-seen span and ephemeral-port
    fan-out — the NetFlow 'conversation' view security tooling builds."""
    return (
        _valid_parsed(spark, sf_dir)
        .groupBy("srcaddr", "destaddr", "dstport")
        .agg(
            F.count("*").alias("n_flows"),
            F.sum("bytes").alias("total_bytes"),
            F.min("start").alias("first_seen"),
            F.max("end").alias("last_seen"),
            (F.max("end") - F.min("start")).alias("span_s"),
            F.countDistinct("srcport").alias("n_src_ports"),
        )
    )


@query(
    "flowlog_byte_anomalies",
    oracle=f"""
    WITH {_ORACLE_CTES},
    stats AS (
      SELECT record_id, srcaddr, bytes,
             avg(bytes) OVER (PARTITION BY srcaddr) AS mu,
             stddev_samp(bytes) OVER (PARTITION BY srcaddr) AS sigma,
             count(*) OVER (PARTITION BY srcaddr) AS n_flows
      FROM typed WHERE error_flag = 0
    )
    , zz AS (
      SELECT record_id, srcaddr, bytes,
             floor(((bytes - mu) / sigma) * 10000.0 + 0.5) / 10000.0 AS z_score
      FROM stats
      WHERE n_flows >= 30 AND sigma > 0
    )
    SELECT record_id, srcaddr, bytes, z_score
    FROM zz
    WHERE z_score > 1.5
    """,
    tags=("flowlog", "domain", "anomaly"),
)
def flowlog_byte_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volumetric anomaly detection: flows whose byte count exceeds their
    source's mean by >1.5 sigma (exfiltration/beaconing triage; a uniform
    synthetic byte distribution tops out near 1.73 sigma, so 1.5 keeps the
    detector non-vacuous on the test corpus — production traffic is
    heavy-tailed and would use 3+). Per-source baselines via window
    aggregates — one shuffle on srcaddr; sources with <30 flows are skipped
    (no stable baseline)."""
    return _byte_anomalies_plan(_valid_parsed(spark, sf_dir))


def _byte_anomalies_plan(flows: DataFrame) -> DataFrame:
    """Plan builder over an already-parsed valid-flow frame (shared with
    flowlog_incident_feed so the capstone parses the corpus once)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("srcaddr")
    stats = flows.select(
        F.col("recordId").alias("record_id"),
        "srcaddr",
        "bytes",
        F.avg("bytes").over(w).alias("mu"),
        F.stddev_samp("bytes").over(w).alias("sigma"),
        F.count("*").over(w).alias("n_flows"),
    )
    # Threshold on the ROUNDED z-score: avg/stddev accumulate in different
    # orders on Spark vs DuckDB, so a raw z within an ulp of 1.5 can flip
    # between engines; rounding both sides first makes the boundary
    # comparison bit-identical.
    z = round_half_up(
        (F.col("bytes") - F.col("mu")) / F.col("sigma"), 4
    ).alias("z_score")
    return (
        stats.filter((F.col("n_flows") >= 30) & (F.col("sigma") > 0))
        .select("record_id", "srcaddr", "bytes", z)
        .filter(F.col("z_score") > 1.5)
    )


@query(
    "flowlog_ddos_targets",
    oracle=f"""
    WITH {_ORACLE_CTES}
    SELECT destaddr,
           CAST(start_s // 3600 AS BIGINT) AS hour_bucket,
           CAST(count(DISTINCT srcaddr) AS BIGINT) AS n_sources,
           CAST(count(*) AS BIGINT) AS rejected_flows,
           CAST(sum(packets) AS BIGINT) AS rejected_packets
    FROM typed
    WHERE error_flag = 0 AND action = 'REJECT'
    GROUP BY destaddr, CAST(start_s // 3600 AS BIGINT)
    HAVING count(DISTINCT srcaddr) >= 4
    """,
    tags=("flowlog", "domain", "security"),
)
def flowlog_ddos_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed-denial triage: destinations whose REJECTed traffic in one
    hour arrives from many distinct sources (source fan-in burst — the
    inverse of top-talkers). One shuffle keyed by (destaddr, hour); the
    distinct-source count partial-aggregates map-side. Integer hour buckets
    from epoch seconds keep the grouping engine-portable (no timestamp
    truncation semantics involved)."""
    return _ddos_targets_plan(_valid_parsed(spark, sf_dir))


def _ddos_targets_plan(flows: DataFrame) -> DataFrame:
    """Plan builder over an already-parsed valid-flow frame (shared with
    flowlog_incident_feed); applies the REJECT gate itself."""
    return (
        flows.filter(F.col("action") == "REJECT")
        .groupBy(
            "destaddr",
            F.floor(F.col("start") / 3600).cast("long").alias("hour_bucket"),
        )
        .agg(
            F.countDistinct("srcaddr").alias("n_sources"),
            F.count("*").alias("rejected_flows"),
            F.sum("packets").alias("rejected_packets"),
        )
        .filter(F.col("n_sources") >= 4)
    )


@query(
    "flowlog_service_mix",
    oracle=f"""
    WITH {_ORACLE_CTES}
    SELECT CASE dstport WHEN 22 THEN 'ssh' WHEN 80 THEN 'http'
                        WHEN 443 THEN 'https' WHEN 6379 THEN 'redis'
                        ELSE 'other' END AS service,
           CASE protocol WHEN 6 THEN 'tcp' WHEN 17 THEN 'udp'
                         ELSE 'other' END AS transport,
           CAST(count(*) AS BIGINT) AS n_flows,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           floor((sum(CASE WHEN action = 'ACCEPT' THEN 1.0 ELSE 0.0 END) / count(*)) * 10000.0 + 0.5) / 10000.0
             AS accept_rate
    FROM typed
    WHERE error_flag = 0
    GROUP BY 1, 2
    """,
    tags=("flowlog", "domain", "agg"),
)
def flowlog_service_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service-level traffic breakdown: well-known dstports mapped to
    service names, accept rate per (service, transport) — the first
    dashboard a flow-log consumer builds. All-Column CASE expressions, one
    partial-aggregated shuffle over ~10 groups."""
    flows = _valid_parsed(spark, sf_dir)
    service = (
        F.when(F.col("dstport") == 22, "ssh")
        .when(F.col("dstport") == 80, "http")
        .when(F.col("dstport") == 443, "https")
        .when(F.col("dstport") == 6379, "redis")
        .otherwise("other")
    )
    transport = (
        F.when(F.col("protocol") == 6, "tcp")
        .when(F.col("protocol") == 17, "udp")
        .otherwise("other")
    )
    return (
        flows.groupBy(service.alias("service"), transport.alias("transport"))
        .agg(
            F.count("*").alias("n_flows"),
            F.sum("bytes").alias("total_bytes"),
            round_half_up(
                F.sum(F.when(F.col("action") == "ACCEPT", 1.0).otherwise(0.0))
                / F.count("*"),
                4,
            ).alias("accept_rate"),
        )
    )


@query(
    "flowlog_port_scans",
    oracle=f"""
    WITH {_ORACLE_CTES}
    SELECT srcaddr, destaddr,
           CAST(count(DISTINCT dstport) AS BIGINT) AS n_ports,
           CAST(count(*) AS BIGINT) AS n_flows,
           CAST(sum(CASE WHEN action = 'REJECT' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rejected,
           CAST(min(start_s) AS BIGINT) AS first_seen,
           CAST(max(start_s) AS BIGINT) AS last_seen
    FROM typed
    WHERE error_flag = 0
    GROUP BY srcaddr, destaddr
    HAVING count(DISTINCT dstport) >= 4
    """,
    tags=("flowlog", "domain", "security"),
)
def flowlog_port_scans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Port-scan triage: source-destination pairs probing many distinct
    destination ports (destination fan-out — the per-pair complement of
    `flowlog_ddos_targets`' source fan-in). One shuffle keyed by the pair;
    the distinct-port count partial-aggregates map-side, and every output is
    an exact integer, so the HAVING cut is engine-exact. At real scale the
    pair key is far finer than srcaddr alone — skewed scanners spread over
    their victim count instead of concentrating on one reducer."""
    return _port_scans_plan(_valid_parsed(spark, sf_dir))


def _port_scans_plan(flows: DataFrame) -> DataFrame:
    """Plan builder over an already-parsed valid-flow frame (shared with
    flowlog_incident_feed so the capstone parses the corpus once)."""
    return (
        flows.groupBy("srcaddr", "destaddr")
        .agg(
            F.countDistinct("dstport").alias("n_ports"),
            F.count("*").alias("n_flows"),
            F.sum(F.when(F.col("action") == "REJECT", 1).otherwise(0)).alias(
                "n_rejected"
            ),
            F.min("start").cast("long").alias("first_seen"),
            F.max("start").cast("long").alias("last_seen"),
        )
        .filter(F.col("n_ports") >= 4)
    )


@query(
    "flowlog_incident_feed",
    oracle=f"""
    WITH {_ORACLE_CTES},
    scans AS (
      SELECT srcaddr, destaddr,
             CAST(count(DISTINCT dstport) AS BIGINT) AS n_ports,
             CAST(count(*) AS BIGINT) AS n_flows
      FROM typed WHERE error_flag = 0
      GROUP BY srcaddr, destaddr
      HAVING count(DISTINCT dstport) >= 4
    ),
    ddos AS (
      SELECT destaddr,
             CAST(start_s // 3600 AS BIGINT) AS hour_bucket,
             CAST(count(DISTINCT srcaddr) AS BIGINT) AS n_sources,
             CAST(count(*) AS BIGINT) AS rejected_flows
      FROM typed
      WHERE error_flag = 0 AND action = 'REJECT'
      GROUP BY destaddr, CAST(start_s // 3600 AS BIGINT)
      HAVING count(DISTINCT srcaddr) >= 4
    ),
    vol_stats AS (
      SELECT record_id, srcaddr, bytes,
             avg(bytes) OVER (PARTITION BY srcaddr) AS mu,
             stddev_samp(bytes) OVER (PARTITION BY srcaddr) AS sigma,
             count(*) OVER (PARTITION BY srcaddr) AS n_flows
      FROM typed WHERE error_flag = 0
    ),
    vol AS (
      SELECT record_id, srcaddr, bytes,
             floor(((bytes - mu) / sigma) * 10000.0 + 0.5) / 10000.0 AS z_score
      FROM vol_stats WHERE n_flows >= 30 AND sigma > 0
    )
    SELECT 'port_scan' AS detection, srcaddr AS subject, destaddr AS object,
           CAST(n_ports AS DOUBLE) AS score, n_flows AS detail
    FROM scans
    UNION ALL
    SELECT 'ddos_fan_in', destaddr, CAST(hour_bucket AS VARCHAR),
           CAST(n_sources AS DOUBLE), rejected_flows
    FROM ddos
    UNION ALL
    SELECT 'byte_anomaly', srcaddr, record_id, z_score, CAST(bytes AS BIGINT)
    FROM vol WHERE z_score > 1.5
    """,
    tags=("flowlog", "domain", "security", "capstone"),
)
def flowlog_incident_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain capstone: the three security detectors (port-scan fan-out,
    DDoS fan-in, volumetric z-score) composed into one tagged incident feed
    — the table a SOC dashboard or alert router actually consumes,
    normalized to a (detection, subject, object, score, detail) schema via
    unionByName (Spark unions are plan-level concatenation — no shuffle of
    their own).

    The parsed valid-flow frame is built ONCE and localCheckpointed before
    fanning into the three detector plan builders: union branches are
    independent subtrees with no cross-branch common-subplan elimination,
    so without the materialization each branch re-ran the full synthesize +
    parse stage (validity regex + per-line sha256) — 3x the pipeline's most
    CPU-expensive stage per invocation (code-review r6)."""
    flows = _valid_parsed(spark, sf_dir).localCheckpoint(eager=False)
    scans = _port_scans_plan(flows).select(
        F.lit("port_scan").alias("detection"),
        F.col("srcaddr").alias("subject"),
        F.col("destaddr").alias("object"),
        F.col("n_ports").cast("double").alias("score"),
        F.col("n_flows").alias("detail"),
    )
    ddos = _ddos_targets_plan(flows).select(
        F.lit("ddos_fan_in").alias("detection"),
        F.col("destaddr").alias("subject"),
        F.col("hour_bucket").cast("string").alias("object"),
        F.col("n_sources").cast("double").alias("score"),
        F.col("rejected_flows").alias("detail"),
    )
    vol = _byte_anomalies_plan(flows).select(
        F.lit("byte_anomaly").alias("detection"),
        F.col("srcaddr").alias("subject"),
        F.col("record_id").alias("object"),
        F.col("z_score").alias("score"),
        F.col("bytes").cast("long").alias("detail"),
    )
    return scans.unionByName(ddos).unionByName(vol)


@query(
    "flowlog_beaconing",
    oracle=f"""
    WITH {_ORACLE_CTES},
    ordered AS (
      SELECT srcaddr, destaddr, start_s,
             start_s - lag(start_s) OVER (
               PARTITION BY srcaddr, destaddr ORDER BY start_s, record_id
             ) AS gap_s
      FROM typed WHERE error_flag = 0
    ),
    per_pair AS (
      SELECT srcaddr, destaddr,
             CAST(count(*) AS BIGINT) AS n_flows,
             floor(avg(gap_s) * 10000.0 + 0.5) / 10000.0 AS mean_gap_s,
             floor((stddev_samp(gap_s) / avg(gap_s)) * 10000.0 + 0.5) / 10000.0 AS gap_cv
      FROM ordered
      GROUP BY srcaddr, destaddr
      HAVING count(*) >= 10 AND avg(gap_s) > 0
    )
    SELECT srcaddr, destaddr, n_flows, mean_gap_s, gap_cv,
           CAST(row_number() OVER (ORDER BY gap_cv, srcaddr, destaddr)
                AS INTEGER) AS regularity_rank
    FROM per_pair
    ORDER BY regularity_rank
    LIMIT 20
    """,
    tags=("flowlog", "domain", "security"),
)
def flowlog_beaconing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beaconing detection: (src, dst) pairs whose inter-arrival gaps are
    most regular (lowest coefficient of variation) — C2 implants phone home
    on a timer, so a near-constant gap with enough flows is the classic
    hunting signal. One shuffle keyed by the pair for the lag window, then a
    pair-level aggregate; the global rank window runs over <= |src|x|dst|
    pair rows, not flows, so the single-partition sort is dim-sized at any
    corpus scale. CV is rounded before ranking (stddev/avg accumulate in
    engine-specific order, ranks must not hinge on an ulp)."""
    from pyspark.sql import Window as W

    flows = _valid_parsed(spark, sf_dir)
    w = W.partitionBy("srcaddr", "destaddr").orderBy("start", "recordId")
    gaps = flows.select(
        "srcaddr",
        "destaddr",
        (F.col("start") - F.lag("start").over(w)).alias("gap_s"),
    )
    per_pair = (
        gaps.groupBy("srcaddr", "destaddr")
        .agg(
            F.count("*").alias("n_flows"),
            round_half_up(F.avg("gap_s"), 4).alias("mean_gap_s"),
            round_half_up(
                F.stddev_samp("gap_s") / F.avg("gap_s"), 4
            ).alias("gap_cv"),
            F.avg("gap_s").alias("_raw_mean"),
        )
        .filter((F.col("n_flows") >= 10) & (F.col("_raw_mean") > 0))
        .drop("_raw_mean")
    )
    rank_w = W.orderBy("gap_cv", "srcaddr", "destaddr")
    return (
        per_pair.withColumn(
            "regularity_rank", F.row_number().over(rank_w)
        )
        .filter(F.col("regularity_rank") <= 20)
        .orderBy("regularity_rank")
    )


@query(
    "flowlog_acl_flip_pairs",
    oracle=f"""
    WITH {_ORACLE_CTES}
    SELECT srcaddr, destaddr, dstport,
           CAST(sum(CASE WHEN action = 'ACCEPT' THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
           CAST(sum(CASE WHEN action = 'REJECT' THEN 1 ELSE 0 END) AS BIGINT) AS n_reject,
           floor((sum(CASE WHEN action = 'REJECT' THEN 1.0 ELSE 0.0 END) / count(*))
                 * 10000.0 + 0.5) / 10000.0 AS reject_ratio
    FROM typed
    WHERE error_flag = 0
    GROUP BY srcaddr, destaddr, dstport
    HAVING sum(CASE WHEN action = 'ACCEPT' THEN 1 ELSE 0 END) > 0
       AND sum(CASE WHEN action = 'REJECT' THEN 1 ELSE 0 END) > 0
    """,
    tags=("flowlog", "domain", "security"),
)
def flowlog_acl_flip_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Security-group misconfiguration triage: 5-tuples (collapsed to
    src/dst/service) observed BOTH accepted and rejected — the signature of
    an ACL change mid-capture or overlapping rules, and the first diff a
    network operator pulls. Single partial-aggregated shuffle on the triple;
    conditional counts fold map-side, so the flip detection costs one pass
    regardless of corpus size."""
    flows = _valid_parsed(spark, sf_dir)
    agg = flows.groupBy("srcaddr", "destaddr", "dstport").agg(
        F.count(F.when(F.col("action") == "ACCEPT", 1)).alias("n_accept"),
        F.count(F.when(F.col("action") == "REJECT", 1)).alias("n_reject"),
        round_half_up(
            F.sum(F.when(F.col("action") == "REJECT", 1.0).otherwise(0.0))
            / F.count("*"),
            4,
        ).alias("reject_ratio"),
    )
    return agg.filter((F.col("n_accept") > 0) & (F.col("n_reject") > 0))


@query(
    "flowlog_chi2_protocol_action",
    oracle=f"""
    WITH {_ORACLE_CTES},
    cells AS (
      SELECT protocol, action, CAST(count(*) AS BIGINT) AS observed
      FROM typed WHERE error_flag = 0 GROUP BY protocol, action
    ),
    margins AS (
      SELECT c.protocol, c.action, c.observed,
             CAST(sum(c.observed) OVER (PARTITION BY c.protocol) AS BIGINT) AS row_total,
             CAST(sum(c.observed) OVER (PARTITION BY c.action) AS BIGINT) AS col_total,
             CAST(sum(c.observed) OVER () AS BIGINT) AS grand_total
      FROM cells c
    ),
    terms AS (
      SELECT protocol, action, observed,
             floor((CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
                    / CAST(grand_total AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS expected,
             CAST(floor(
               (((CAST(observed AS DOUBLE)
                  - (CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
                     / CAST(grand_total AS DOUBLE)))
                 * (CAST(observed AS DOUBLE)
                    - (CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
                       / CAST(grand_total AS DOUBLE))))
                / (CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
                   / CAST(grand_total AS DOUBLE)))
               * 1000000.0 + 0.5) AS BIGINT) AS term_micro
      FROM margins
    )
    SELECT CAST(sum(term_micro) AS BIGINT) AS chi2_micro,
           CAST((count(DISTINCT protocol) - 1) * (count(DISTINCT action) - 1) AS BIGINT) AS dof,
           CAST(sum(observed) AS BIGINT) AS n
    FROM terms
    """,
    tags=("flowlog", "domain", "stats"),
)
def flowlog_chi2_protocol_action(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between protocol and firewall action —
    'does the ACL treat TCP and UDP differently?' is a real triage question,
    and the contingency-table + chi-square shape generalizes to any pair of
    categorical flow attributes. The fact scan collapses to one tiny
    aggregate (|protocols| x |actions| cells); margins come from windows
    over the cell table, so nothing after the first shuffle scales with the
    corpus. Each cell's (O-E)^2/E term is quantized to integer micro-units
    BEFORE the final sum — order-immune, bit-identical across engines."""
    from pyspark.sql import Window as W

    flows = _valid_parsed(spark, sf_dir)
    cells = flows.groupBy("protocol", "action").agg(
        F.count("*").alias("observed")
    )
    margins = cells.select(
        "protocol",
        "action",
        "observed",
        F.sum("observed").over(W.partitionBy("protocol")).alias("row_total"),
        F.sum("observed").over(W.partitionBy("action")).alias("col_total"),
        F.sum("observed").over(W.partitionBy()).alias("grand_total"),
    )
    expected = (
        F.col("row_total").cast("double")
        * F.col("col_total").cast("double")
        / F.col("grand_total").cast("double")
    )
    dev = F.col("observed").cast("double") - expected
    terms = margins.select(
        "protocol",
        "action",
        "observed",
        F.floor(((dev * dev) / expected) * 1000000.0 + 0.5)
        .cast("long")
        .alias("term_micro"),
    )
    return terms.agg(
        F.sum("term_micro").cast("long").alias("chi2_micro"),
        (
            (F.countDistinct("protocol") - 1) * (F.countDistinct("action") - 1)
        ).cast("long").alias("dof"),
        F.sum("observed").cast("long").alias("n"),
    )


@query(
    "flowlog_cidr_rollup",
    oracle=f"""
    WITH {_ORACLE_CTES},
    prefixed AS (
      SELECT array_to_string(string_split(srcaddr, '.')[1:2], '.') AS p16,
             array_to_string(string_split(srcaddr, '.')[1:3], '.') AS p24,
             bytes, packets, destaddr
      FROM typed WHERE error_flag = 0
    )
    SELECT 16 AS prefix_len, p16 || '.0.0/16' AS cidr,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           CAST(count(*) AS BIGINT) AS n_flows,
           CAST(count(DISTINCT destaddr) AS BIGINT) AS n_dsts
    FROM prefixed GROUP BY p16
    UNION ALL
    SELECT 24, p24 || '.0/24',
           CAST(sum(bytes) AS BIGINT),
           CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT destaddr) AS BIGINT)
    FROM prefixed GROUP BY p24
    """,
    tags=("flowlog", "domain", "agg"),
)
def flowlog_cidr_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic rollup by CIDR prefix (/16 and /24) — how network operators
    actually read flow data: which campus, then which subnet. Both prefix
    levels aggregate the same single parse pass (Spark unions the two
    grouped aggregates; each is one partial-aggregated shuffle keyed by a
    prefix string, and the /16 level could equally reuse the /24 output at
    scale — kept independent here to mirror the oracle exactly)."""
    flows = _valid_parsed(spark, sf_dir)
    octets = F.split("srcaddr", "\\.")
    prefixed = flows.select(
        F.concat_ws(".", F.slice(octets, 1, 2)).alias("p16"),
        F.concat_ws(".", F.slice(octets, 1, 3)).alias("p24"),
        "bytes",
        "destaddr",
    )

    def level(col: str, length: int, suffix: str) -> DataFrame:
        return (
            prefixed.groupBy(col)
            .agg(
                F.sum("bytes").alias("total_bytes"),
                F.count("*").alias("n_flows"),
                F.countDistinct("destaddr").alias("n_dsts"),
            )
            .select(
                F.lit(length).alias("prefix_len"),
                F.concat(F.col(col), F.lit(suffix)).alias("cidr"),
                "total_bytes",
                "n_flows",
                "n_dsts",
            )
        )

    return level("p16", 16, ".0.0/16").unionAll(level("p24", 24, ".0/24"))


# ---------------------------------------------------------------------------
# Stateful / graph incident-response analytics over the same synthesized
# flow stream: CUSUM drift (an inherently order-dependent fold a windowed
# aggregate cannot express) and 2-hop blast radius (frontier BFS).
# ---------------------------------------------------------------------------

_CUSUM_SEQ_LIMIT = 1200  # bounds oracle recursion depth to ~seq_limit/len(ENIs) steps
_NEW_MEAN = f"(c.mean_milli + {fdiv_sql('s.v - c.mean_milli', 'c.n + 1')})"
_CUSUM_KEY_SQL = (
    f"([{_sql_list(_ENI_IDS)}])[CAST(user_id % {_N_ENI} + 1 AS INTEGER)]"
)

CUSUM_ORACLE = f"""
WITH RECURSIVE src AS (
  SELECT {_CUSUM_KEY_SQL} AS key,
         row_number() OVER (PARTITION BY user_id % {_N_ENI} ORDER BY event_id) AS rn,
         (40 + (event_id * 97) % 100000) * 1000 AS v
  FROM events WHERE event_id < {_CUSUM_SEQ_LIMIT}
), counts AS (
  SELECT key, max(rn) AS n_rows FROM src GROUP BY key
), cusum AS (
  SELECT key, CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS n,
         CAST(0 AS BIGINT) AS mean_milli, CAST(0 AS BIGINT) AS cpos,
         CAST(0 AS BIGINT) AS cneg
  FROM counts
  UNION ALL
  SELECT c.key, c.rn + 1, c.n + 1,
         {_NEW_MEAN},
         greatest(0, c.cpos + s.v - {_NEW_MEAN} - {CUSUM_K_MILLI}),
         greatest(0, c.cneg + {_NEW_MEAN} - s.v - {CUSUM_K_MILLI})
  FROM cusum c JOIN src s ON s.key = c.key AND s.rn = c.rn + 1
)
SELECT c.key, c.n, c.mean_milli,
       c.cpos AS cusum_pos_milli, c.cneg AS cusum_neg_milli,
       CAST(CASE WHEN c.cpos > {CUSUM_H_MILLI} OR c.cneg > {CUSUM_H_MILLI}
                 THEN 1 ELSE 0 END AS INTEGER) AS alert
FROM cusum c JOIN counts t ON c.key = t.key AND c.rn = t.n_rows
"""


def cusum_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (seq, interface-id, bytes) stream the CUSUM queries fold: the
    first ``_CUSUM_SEQ_LIMIT`` events' byte counts, keyed by the same
    user_id->ENI mapping ``synth_flow_lines`` uses. Shared by the batch
    query below and ``streaming/queries.stream_cusum_drift`` so both
    execution modes fold the IDENTICAL logical stream against the one
    CUSUM_ORACLE contract."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < _CUSUM_SEQ_LIMIT)
    return ev.select(
        F.col("event_id").alias("seq"),
        F.element_at(
            F.array(*[F.lit(x) for x in _ENI_IDS]),
            (F.col("user_id") % _N_ENI + 1).cast("int"),
        ).alias("interface-id"),
        (40 + (F.col("event_id") * 97) % 100000).alias("bytes"),
    )


@query("flowlog_cusum_drift", oracle=CUSUM_ORACLE, tags=("flowlog", "stateful", "security"))
def flowlog_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-interface CUSUM change-point statistics over the first
    ``_CUSUM_SEQ_LIMIT`` events' byte counts (same derivations as
    ``synth_flow_lines``): the batch form of the streaming fold
    ``streaming/transform_state.cusum_drift_stream``.

    CUSUM is an order-dependent recurrence — the one shape Spark's windowed
    aggregates cannot express — so the engine runs it as ONE ordered pass
    per key inside ``applyInPandas`` (a single exchange keyed by interface;
    per-key state is four integers, so a 100 TB corpus costs one shuffle and
    O(keys) memory). The oracle replays the identical scaled-integer fold as
    a DuckDB recursive CTE, which is why the seq limit exists: the CTE
    advances every key one row per iteration, so recursion depth equals the
    deepest key's row count."""
    return cusum_drift_batch(cusum_flows(spark, sf_dir))


# seed on an eid%4==1 slot: PRIVATE index 0 rows are exactly the REJECT
# rows (eid%4==0), so PRIVATE_IPS[0] never enters the ACCEPT graph
_BLAST_SEED = fixtures.PRIVATE_IPS[1]  # the "compromised" host

BLAST_RADIUS_ORACLE = f"""
WITH {_ORACLE_CTES},
edges AS (
  SELECT DISTINCT srcaddr, destaddr FROM typed
  WHERE error_flag = 0 AND action = 'ACCEPT'
),
nb AS (
  SELECT srcaddr AS a, destaddr AS b FROM edges
  UNION
  SELECT destaddr, srcaddr FROM edges
),
h1 AS (SELECT DISTINCT b AS ip FROM nb WHERE a = '{_BLAST_SEED}'),
h2 AS (
  SELECT DISTINCT nb.b AS ip FROM nb JOIN h1 ON nb.a = h1.ip
),
hops AS (
  SELECT ip, 1 AS hop FROM h1
  UNION ALL
  SELECT ip, 2 FROM h2
)
SELECT ip, CAST(min(hop) AS INTEGER) AS hop
FROM hops WHERE ip <> '{_BLAST_SEED}' GROUP BY ip
"""


@query("flowlog_blast_radius", oracle=BLAST_RADIUS_ORACLE, tags=("flowlog", "graph", "security"))
def flowlog_blast_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop blast radius of a compromised host over the undirected ACCEPT
    graph — the incident-response question "which hosts share a service with
    the seed?". Frontier-style BFS as two joins: the frontier (hop-1
    neighbor set) is tiny relative to the edge list, so Spark broadcasts it
    into each probe; at 100 TB the edge list stays partitioned on ``a`` and
    only the frontier moves. Deeper traversals iterate the same join (cf.
    ``ext/graph.py`` pointer-jumping for the unbounded case)."""
    flows = _valid_parsed(spark, sf_dir).filter(F.col("action") == "ACCEPT")
    edges = flows.select("srcaddr", "destaddr").distinct()
    nb = (
        edges.select(F.col("srcaddr").alias("a"), F.col("destaddr").alias("b"))
        .union(edges.select(F.col("destaddr").alias("a"), F.col("srcaddr").alias("b")))
        .distinct()
    )
    h1 = nb.filter(F.col("a") == _BLAST_SEED).select(F.col("b").alias("ip")).distinct()
    h2 = (
        nb.join(F.broadcast(h1).withColumnRenamed("ip", "a"), "a")
        .select(F.col("b").alias("ip"))
        .distinct()
    )
    hops = h1.select("ip", F.lit(1).alias("hop")).unionAll(
        h2.select("ip", F.lit(2).alias("hop"))
    )
    return (
        hops.filter(F.col("ip") != _BLAST_SEED)
        .groupBy("ip")
        .agg(F.min("hop").cast("int").alias("hop"))
    )


# The reference's RFC1918 test splits into its two sub-predicates so the
# loopback quirk is VISIBLE in the result rather than folded into 'private':
# decorator/index.js:149-153 classifies 127/8 as RFC1918-private (kept
# deliberately, SURVEY §2.2 P8; engine twin: enrich.is_rfc1918).
_LOOPBACK_RE = r"^127\."
_RFC1918_PROPER_RE = (
    r"(^10\.)|(^172\.1[6-9]\.)|(^172\.2[0-9]\.)|(^172\.3[0-1]\.)|(^192\.168\.)"
)


@query(
    "flowlog_rfc1918_classify",
    oracle=f"""
    WITH {_ORACLE_CTES}
    , addrs AS (
      SELECT 'src' AS addr_role, srcaddr AS addr FROM typed WHERE error_flag = 0
      UNION ALL
      SELECT 'dst' AS addr_role, destaddr AS addr FROM typed WHERE error_flag = 0
    )
    SELECT addr_role,
           CASE WHEN regexp_matches(addr, '{_LOOPBACK_RE}')
                  THEN 'loopback_as_private'
                WHEN regexp_matches(addr, '{_RFC1918_PROPER_RE}')
                  THEN 'rfc1918'
                ELSE 'public' END AS ip_class,
           CAST(count(*) AS BIGINT) AS n_flows,
           CAST(count(DISTINCT addr) AS BIGINT) AS n_addrs
    FROM addrs
    GROUP BY addr_role, ip_class
    """,
    tags=("flowlog", "parity", "predicate"),
)
def flowlog_rfc1918_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 driver-proven: the reference's RFC1918 gate applied to every
    src/dst address of the parsed flow stream, with the 127/8 loopback
    quirk split out as its own class so the parity decision
    (decorator/index.js:149-153 counts loopback as private; enrich.py:33
    replicates it) is hash-checked rather than property-tested only. The
    union of 'loopback_as_private' and 'rfc1918' is exactly the set the
    enrichment gate (P9) skips geocoding for. One scan -> explode to
    (role, addr) -> two-regex classify -> count + distinct count; every
    step is a pure Column expression, and at 100 TB the cardinality of the
    output is fixed (2 roles x 3 classes)."""
    flows = _valid_parsed(spark, sf_dir)
    addrs = flows.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("src").alias("addr_role"),
                    F.col("srcaddr").alias("addr"),
                ),
                F.struct(
                    F.lit("dst").alias("addr_role"),
                    F.col("destaddr").alias("addr"),
                ),
            )
        ).alias("ra")
    ).select("ra.addr_role", "ra.addr")
    ip_class = (
        F.when(F.col("addr").rlike(_LOOPBACK_RE), "loopback_as_private")
        .when(F.col("addr").rlike(_RFC1918_PROPER_RE), "rfc1918")
        .otherwise("public")
    )
    return addrs.groupBy(
        "addr_role", ip_class.alias("ip_class")
    ).agg(
        F.count("*").alias("n_flows"),
        F.countDistinct("addr").alias("n_addrs"),
    )


# ---------------------------------------------------------------------------
# Longest-prefix-match routing join — the route-table / security-group
# matching semantics the reference's VPC domain implies but never implements
# (its geo join, decorator/index.js:175-177, resolves DISJOINT ranges; a VPC
# route table is OVERLAPPING prefixes resolved by longest match). LPM is not
# expressible as a plain equi- or range-join: it needs per-address argmax
# over matching prefix lengths.
# ---------------------------------------------------------------------------

# Overlapping route table (route_id, cidr). Shared literal between the Spark
# plan and the DuckDB oracle, like fixtures.ENIS/GEO_ROWS. Depths 0..32 with
# a non-octet-aligned /20 so the masking is bit-true, not string-prefix-true;
# host routes beat /16s beat /12s beat the default.
_ROUTE_TABLE = [
    ("rt-default", "0.0.0.0/0"),
    ("rt-loopback", "127.0.0.0/8"),
    ("rt-net10", "10.0.0.0/8"),
    ("rt-net10-100", "10.100.0.0/16"),
    ("rt-rfc1918-172", "172.16.0.0/12"),
    ("rt-vpc", "172.31.0.0/16"),
    ("rt-eni-primary", "172.31.16.21/32"),
    ("rt-corp", "192.168.0.0/16"),
    ("rt-corp-lan1", "192.168.1.0/24"),
    ("rt-amazon-72", "72.21.192.0/20"),
    ("rt-aws52", "52.94.0.0/16"),
    ("rt-dns", "8.8.8.0/24"),
    ("rt-dns-host", "8.8.8.8/32"),
]


def _route_rows() -> list[tuple[str, str, int, int]]:
    """(route_id, cidr, plen, net_shifted): net_shifted is the network int
    right-shifted by (32-plen) — the equi-join key a fact address produces by
    shifting its own int the same way. Asserts CIDR alignment so a typo'd
    route fails at import, not as silent non-matches."""
    rows = []
    for route_id, cidr in _ROUTE_TABLE:
        net, plen_s = cidr.split("/")
        plen = int(plen_s)
        net_int = fixtures._ip_to_int(net)
        shifted = net_int >> (32 - plen) if plen < 32 else net_int
        restored = shifted << (32 - plen) if plen < 32 else shifted
        assert restored == net_int, f"misaligned CIDR {cidr}"
        rows.append((route_id, cidr, plen, shifted))
    return rows


_ROUTE_PLENS = sorted({int(c.split("/")[1]) for _, c in _ROUTE_TABLE})


def _routes_values_sql() -> str:
    return ", ".join(
        f"('{rid}', '{cidr}', {plen}, {shifted})"
        for rid, cidr, plen, shifted in _route_rows()
    )


_IP_INT_SQL = (
    "CAST(string_split(addr, '.')[1] AS BIGINT) * 16777216"
    " + CAST(string_split(addr, '.')[2] AS BIGINT) * 65536"
    " + CAST(string_split(addr, '.')[3] AS BIGINT) * 256"
    " + CAST(string_split(addr, '.')[4] AS BIGINT)"
)


@query(
    "join_ip_longest_prefix",
    oracle=f"""
    WITH {_ORACLE_CTES}
    , addrs AS (
      SELECT 'src' AS addr_role, srcaddr AS addr, bytes FROM typed WHERE error_flag = 0
      UNION ALL
      SELECT 'dst' AS addr_role, destaddr AS addr, bytes FROM typed WHERE error_flag = 0
    ), addr_stats AS (
      SELECT addr_role, addr, {_IP_INT_SQL} AS ip_int,
             CAST(count(*) AS BIGINT) AS n_flows,
             CAST(sum(bytes) AS BIGINT) AS addr_bytes
      FROM addrs GROUP BY addr_role, addr
    ), routes(route_id, cidr, plen, net_shifted) AS (
      VALUES {_routes_values_sql()}
    ), matched AS (
      SELECT a.addr_role, a.addr, a.n_flows, a.addr_bytes,
             r.route_id, r.cidr, r.plen,
             row_number() OVER (PARTITION BY a.addr_role, a.addr
                                ORDER BY r.plen DESC, r.route_id) AS rn
      FROM addr_stats a
      JOIN routes r ON (a.ip_int >> (32 - r.plen)) = r.net_shifted
    )
    SELECT addr_role, route_id, cidr,
           CAST(count(*) AS BIGINT) AS n_addrs,
           CAST(sum(n_flows) AS BIGINT) AS n_flows,
           CAST(sum(addr_bytes) AS BIGINT) AS total_bytes
    FROM matched WHERE rn = 1
    GROUP BY addr_role, route_id, cidr
    """,
    tags=("join", "lpm", "flowlog"),
)
def join_ip_longest_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-prefix-match join: every flow src/dst address resolved against
    an OVERLAPPING CIDR route table, most-specific prefix wins — route-table /
    security-group semantics (the reference's geo join handles only disjoint
    ranges; LPM is the general case).

    Spark-first plan, scale-shaped in three tiers so the 100 TB fact never
    fans out:
     1. the fact reduces to per-(role, addr) stats first — ONE shuffle on the
        natural key, output bounded by |distinct addrs|;
     2. LPM runs on that reduced relation: each addr emits one candidate key
        per DISTINCT PREFIX LENGTH present in the table (a compile-time
        literal, <= 33 ever, 7 here) via exact integer shiftright, and a
        broadcast EQUI-join on (plen, net_shifted) replaces the naive
        broadcast-nested-loop theta join — candidate rows are |addrs| x
        |plens|, not |addrs| x |routes|, and the probe is a hash lookup;
     3. argmax-by-plen per addr via a row_number window over the small
        matched relation, then a fixed-cardinality rollup to routes.
    The default route guarantees total coverage, the /20 exercises
    non-octet-aligned masks, and the /32 host route must beat rt-vpc's /16
    for the hash to agree."""
    flows = _valid_parsed(spark, sf_dir)
    addrs = flows.select(
        F.explode(
            F.array(
                F.struct(F.lit("src").alias("addr_role"), F.col("srcaddr").alias("addr")),
                F.struct(F.lit("dst").alias("addr_role"), F.col("destaddr").alias("addr")),
            )
        ).alias("ra"),
        F.col("bytes"),
    ).select("ra.addr_role", "ra.addr", "bytes")
    stats = addrs.groupBy("addr_role", "addr").agg(
        F.count("*").alias("n_flows"),
        F.sum("bytes").alias("addr_bytes"),
    )
    best = lpm_best_routes(spark, stats)
    return best.groupBy("addr_role", "route_id", "cidr").agg(
        F.count("*").alias("n_addrs"),
        F.sum("n_flows").alias("n_flows"),
        F.sum("addr_bytes").alias("total_bytes"),
    )


def lpm_best_routes(spark: SparkSession, stats: DataFrame) -> DataFrame:
    """LPM tiers 2+3 over a per-(addr_role, addr) stats relation (columns
    addr_role, addr, n_flows, addr_bytes): candidate keys per distinct
    prefix length via exact shiftright, broadcast equi-join on
    (plen, net_shifted), argmax-by-plen per addr. Factored so the scale
    smoke can drive the identical plan with synthetic addresses.

    Addresses go through the ANSI-safe ``enrich.ip_to_int`` (try_cast +
    0..255 range checks): the flow-line regex admits unbounded ``\\d+``
    octets, so a plain element_at/cast would crash the batch under Spark 4
    ANSI on an overflowing octet, and an octet like 300 would alias onto a
    DIFFERENT address's integer and route it to a concrete wrong prefix —
    the exact hazard class the r6 hardening closed for the geo join
    (code-review session 5). A NULL ip_int produces no candidate match and
    the address simply drops, mirroring the geo-miss path."""
    from pyspark.sql import Window as W

    from .enrich import ip_to_int

    ip_int = ip_to_int("addr")
    cands = stats.select(
        "addr_role", "addr", "n_flows", "addr_bytes",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(p).alias("plen"),
                    F.shiftright(ip_int, 32 - p).alias("net_key"),
                )
                for p in _ROUTE_PLENS
            ])
        ).alias("pk"),
    ).select("addr_role", "addr", "n_flows", "addr_bytes", "pk.plen", "pk.net_key")
    routes = spark.createDataFrame(
        _route_rows(), ["route_id", "cidr", "plen", "net_shifted"]
    )
    matched = cands.join(
        F.broadcast(routes),
        (cands.plen == routes.plen) & (cands.net_key == routes.net_shifted),
    ).drop(routes.plen)
    w = W.partitionBy("addr_role", "addr").orderBy(
        F.col("plen").desc(), F.col("route_id")
    )
    return matched.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
