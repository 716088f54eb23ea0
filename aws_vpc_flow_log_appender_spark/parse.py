"""Parse stage: decode -> tokenize -> cast -> validity split.

Reference behavior (decorator/index.js:100-139): each Firehose record's base64
payload is decoded, matched against the flow-log v2 regex, and either turned
into a typed record with a processing-time ``@timestamp`` or wrapped as an
error record (record-level dead-lettering — a non-matching line is *kept*, not
dropped, and later emitted with result ProcessingFailed).

Spark-first design: one ``regexp_extract`` of the whole match (empty = no
match) + one ``split`` of that match + positional ``getItem``/``cast`` — all
built-in Column expressions, fully inside whole-stage codegen; no UDFs. The
expressions are built once per SparkContext (``session.stage_columns``), so
each call is two projections over prebuilt columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .schema import FLOW_FIELDS, FLOW_LINE_PATTERN
from .session import stage_columns


def decode_base64_utf8(col: Column | str) -> Column:
    """base64 payload -> utf8 string (decorator/index.js:106).

    ``try_to_binary``, not ``unbase64``: under Spark 4 ANSI defaults a
    single malformed base64 payload in ``unbase64`` raises and kills the
    whole batch — a corrupt record must instead decode to NULL and route
    to the dead-letter path like every other per-record failure
    (code-review r6)."""
    return F.try_to_binary(
        F.col(col) if isinstance(col, str) else col, F.lit("base64")
    ).cast("string")


def parse_flow_fields(line: Column) -> list[Column]:
    """Tokenize one matched line into the 14 typed columns.

    Single ``split`` on space + positional casts (decorator/index.js:107-126
    does one regex exec + 14 Number()/string captures). ``line`` is the
    regex match, not the raw line, so trailing text never reaches a field;
    callers gate on the match being non-empty.
    """
    toks = F.split(line, " ")
    cols = []
    for i, (name, dtype) in enumerate(FLOW_FIELDS):
        c = toks.getItem(i)
        if dtype.typeName() == "long":
            # try_cast, not cast: FLOW_LINE_PATTERN's \d+ is unbounded, so
            # a regex-VALID line whose numeric token overflows int64 must
            # degrade to a NULL field (the reference's Number() yields a
            # float and the record flows through) — under ANSI a plain cast
            # would crash the whole batch on one such line (code-review r6)
            c = c.try_cast("long")
        cols.append(c.alias(name))
    return cols


def _parse_columns(data_col: str, base64_encoded: bool) -> tuple[list[Column], list[Column]]:
    """parse_records' two projections: the explode barrier, then the output."""
    if base64_encoded:
        raw = decode_base64_utf8(data_col)
        # preserve the ORIGINAL base64 payload for dead-lettering: re-encoding
        # the lossily-decoded string would corrupt non-UTF-8 originals
        # (the reference re-emits the untouched payload, decorator/index.js:214-220)
        orig = F.col(data_col)
    else:
        from .package import unchunked_base64

        raw = F.col(data_col)
        orig = unchunked_base64(F.encode(data_col, "utf-8"))
    # the reference's regex exec (decorator/index.js:107): the match of the
    # start-anchored pattern, "" when the line does not match
    match = F.regexp_extract(raw, FLOW_LINE_PATTERN, 0)
    # Pin `raw` and the regex match to ONE evaluation per record
    # (optimization r10, guide §2.3/§7.2): as a flat projection, Catalyst
    # pushes the downstream validity filter below this projection and
    # re-inlines `raw` into every consumer — the synthesized/decoded line
    # was built twice and the 14-group validity regex ran up to four times
    # per record (once in the pushed-down scan filter, once per projected
    # column group; profiled at sf0.1: the parse stage was 9.2 s CPU of
    # which the duplicated regex was the bulk). A one-element
    # explode(array(struct(raw, match))) is row-preserving and acts as a
    # projection barrier: predicates referencing the generator's output
    # cannot be pushed below it, so the line is materialized once and the
    # regex runs once; its match is reused as a plain column.
    # (`__orig_b64` stays OUTSIDE the barrier: it is only consumed by the
    # dead-letter packaging path, and leaving it a flat projection lets
    # column pruning drop its base64 re-encode for every query that never
    # reads it.)
    barrier = [
        F.col("*"),
        F.explode(
            F.array(F.struct(raw.alias("raw"), match.alias("match")))
        ).alias("__rv"),
    ]
    # null-safe: a NULL payload gives a NULL match, and NULL `error`
    # would be treated as false downstream, misrouting the record to 'Ok'
    validc = F.coalesce(F.col("__rv.match") != "", F.lit(False))
    parsed = parse_flow_fields(F.col("__rv.match"))
    out = [
        F.col("recordId"),
        F.col("__rv.raw").alias("raw"),
        orig.alias("__orig_b64"),
        (~validc).alias("error"),
        F.when(validc, F.current_timestamp()).alias("@timestamp"),
        *[
            F.when(validc, c).alias(name)
            for c, (name, _) in zip(parsed, FLOW_FIELDS)
        ],
    ]
    return barrier, out


def parse_records(records: DataFrame, data_col: str = "data",
                  base64_encoded: bool = True) -> DataFrame:
    """Firehose records -> parsed rows with error routing.

    Input: any DataFrame with a ``recordId`` column and a payload column.
    Output columns: ``recordId``, ``raw`` (decoded line), ``error`` (bool),
    ``@timestamp`` and the 14 typed flow fields (NULL when error).

    Mirrors extractRecords (decorator/index.js:100-139): valid rows become
    typed records, invalid rows carry the raw payload with ``error=true``.
    Implemented as one projection (no per-branch scans): the validity predicate
    is computed once and the typed columns are NULL-masked by it.
    """
    barrier, out = stage_columns(("parse_records", data_col, base64_encoded),
                                 lambda: _parse_columns(data_col, base64_encoded))
    return records.select(*barrier).select(*out)


def _line_columns(line_col: str, unique_ids: bool) -> list[Column]:
    line = F.col(line_col)
    record_id = F.sha2(line, 256)
    if unique_ids:
        w = Window.partitionBy(line_col).orderBy(F.monotonically_increasing_id())
        record_id = F.concat(record_id, F.lit("-"), F.row_number().over(w).cast("string"))
    return [record_id.alias("recordId"), line.alias("data")]


def parse_lines(lines: DataFrame, line_col: str = "value",
                unique_ids: bool = False) -> DataFrame:
    """Parse bare flow-log lines (no Firehose framing) — batch/file-source path.

    Adds a synthetic recordId from the line content so downstream packaging
    stays keyed (the reference's recordId comes from Firehose).

    ``unique_ids=False`` (default): recordId = sha256(line) — deterministic
    and cheap, but byte-identical lines COLLIDE (a recordId-keyed dedupe
    would drop legitimate repeats). ``unique_ids=True`` disambiguates
    repeats with a per-content occurrence index (costs one shuffle on the
    line content) — use for sinks that dedupe on recordId.
    """
    cols = stage_columns(("parse_lines", line_col, unique_ids),
                         lambda: _line_columns(line_col, unique_ids))
    return parse_records(lines.select(*cols), data_col="data", base64_encoded=False)
