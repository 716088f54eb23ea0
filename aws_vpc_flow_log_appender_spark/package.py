"""Package stage: Ok/ProcessingFailed tagging + JSON/base64 payload + union.

Reference behavior (decorator/index.js:206-234): every record — parsed or
failed — is re-emitted keyed by recordId with result 'Ok' or
'ProcessingFailed'; Ok payloads are base64(JSON(enriched record)), failed
payloads carry the original data through unchanged. Order is irrelevant
(recordId-keyed), so the ok/failed branches are a single tagged projection
here, not two scans + union.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .schema import ENRICHED_COLUMNS
from .session import stage_columns


def unchunked_base64(col: Column) -> Column:
    """Spark's base64() is MIME-chunked (CRLF every 76 chars); the reference's
    Buffer.toString('base64') is not — strip the line breaks so payloads are
    byte-comparable with unchunked encoders."""
    return F.regexp_replace(F.base64(col), "\r\n", "")


def _package_columns() -> list[Column]:
    payload_ok = unchunked_base64(
        F.encode(
            F.to_json(F.struct(*[F.col(f"`{c}`") for c in ENRICHED_COLUMNS])),
            "utf-8",
        )
    )
    payload_failed = F.col("__orig_b64")
    return [
        F.col("recordId"),
        F.when(F.col("error"), F.lit("ProcessingFailed"))
        .otherwise(F.lit("Ok"))
        .alias("result"),
        F.when(F.col("error"), payload_failed).otherwise(payload_ok).alias("data"),
    ]


def package_records(enriched: DataFrame) -> DataFrame:
    """-> (recordId, result, data) exactly like packageRecords
    (decorator/index.js:206-234).

    Ok rows: data = base64(to_json(enriched struct)) (decorator/index.js:222).
    Failed rows: the ORIGINAL payload passes through byte-for-byte via the
    ``__orig_b64`` column parse_records preserved (decorator/index.js:214-220
    re-emits the untouched record.data; decoding+re-encoding would mangle
    non-UTF-8 originals). One projection over columns built once per
    SparkContext (``session.stage_columns``).
    """
    return enriched.select(*stage_columns(("package_records",), _package_columns))
