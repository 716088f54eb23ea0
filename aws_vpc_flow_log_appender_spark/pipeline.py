"""The composed flagship pipeline: parse -> enrich -> package.

This is the decorator Lambda's end-to-end query (decorator/index.js:243-262,
SURVEY §3.2) as one declarative Spark plan:

    firehose records
      -> parse_records        (b64 decode, tokenize, cast, validity split)
      -> join_eni             (broadcast left join + direction)
      -> join_geo             (/16-bucket broadcast join + range test + defaults)
      -> package_records      (Ok/ProcessingFailed tagging + b64(json) payload)

Error rows flow through untouched (NULL flow fields) and come out tagged
ProcessingFailed — record-level dead-lettering, never batch failure
(the reference's June-2017 fix made geo degrade-don't-fail; here nothing in
the plan can fail a batch on bad data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .enrich import join_eni, join_geo
from .package import package_records
from .parse import parse_lines, parse_records


def enrich_flow_logs(parsed: DataFrame, eni_dim: DataFrame, geo_dim: DataFrame,
                     geolocation_enabled: bool = True,
                     geo_dim_is_disjoint: bool = False) -> DataFrame:
    """Parse output -> fully enriched records (ENRICHED_SCHEMA columns +
    recordId/raw/error carried through)."""
    return join_geo(
        join_eni(parsed, eni_dim),
        geo_dim,
        geolocation_enabled=geolocation_enabled,
        dim_is_disjoint=geo_dim_is_disjoint,
    )


def decorate(records: DataFrame, eni_dim: DataFrame, geo_dim: DataFrame,
             geolocation_enabled: bool = True) -> DataFrame:
    """Full decorator parity: Firehose records in, (recordId, result, data) out."""
    parsed = parse_records(records)
    enriched = enrich_flow_logs(parsed, eni_dim, geo_dim, geolocation_enabled)
    return package_records(enriched)


def decorate_lines(lines: DataFrame, eni_dim: DataFrame, geo_dim: DataFrame,
                   line_col: str = "value",
                   geolocation_enabled: bool = True,
                   unique_ids: bool = False,
                   geo_dim_is_disjoint: bool = False) -> DataFrame:
    """Same pipeline over bare text lines (batch/file-source entry).

    ``unique_ids=True`` disambiguates byte-identical lines (see
    parse.parse_lines) — required when the sink dedupes on recordId.
    ``geo_dim_is_disjoint=True`` says the geo dimension is already prepared
    by ``enrich.flatten_geo_dim`` (streaming reuse across micro-batches).
    """
    parsed = parse_lines(lines, line_col, unique_ids=unique_ids)
    enriched = enrich_flow_logs(parsed, eni_dim, geo_dim, geolocation_enabled,
                                geo_dim_is_disjoint=geo_dim_is_disjoint)
    return package_records(enriched)
