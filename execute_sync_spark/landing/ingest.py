"""NDJSON document batches -> landing DataFrame.

Spark-first ingest (SURVEY §3.1): the raw NDJSON is read distributed
(``spark.read.text``) or, for an in-memory page, shipped as one Arrow batch;
metadata fields are extracted JVM-side with a single
``from_json`` over a metadata-only struct schema (parse errors -> null struct ->
row skipped, matching the reference's parse-skip path,
/root/reference/src/cmd_sync.go:154-157), and the whole line is kept as the
``data`` payload.

Compat chunk-splitting (§1.4, default OFF — Spark has no cell-size ceiling)
is one pure per-line function, ``split_document``. Like the reference, which
splits in the client process that holds the page before the upload
(snowflake.go:167-194), a sync page is split where it already is, on the
driver, and ships as ``(value, parts)``; a stream computes ``parts`` in one
Arrow-batched ``mapInPandas``. The reshape (1 doc -> 1 + n rows) is a JVM
``posexplode``.
Deviation from the reference: the reference iterates Go map keys in random
order when several lists in one document overflow (snowflake.go:169-190); we
sort keys so chunk numbering is deterministic.
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone
from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

# Metadata-only parse schema: from_json ignores payload fields not listed here,
# so parsing cost is bounded regardless of document width. $VERSION arrives as
# a JSON number (float64 in the reference, cmd_sync metadata cast) — parse as
# double then cast to long.
_META_DDL = (
    "`$TYPE` STRING, DOCUMENT_ID STRING, `$VERSION` DOUBLE, `$AUTHOR_ID` STRING, `$DATE` STRING, `$DELETED` BOOLEAN"
)
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)

_SPLIT_SCHEMA = "value string, parts array<string>"


def _check_chunk_size(chunk_size: int | None) -> None:
    """Chunking is off with ``None``; a size below 1 is rejected, since it
    would otherwise silently turn chunking off (0) or do nothing."""
    if chunk_size is not None and chunk_size < 1:
        raise ValueError(f"chunk size must be at least 1 or None (off), got {chunk_size}")


def split_document(line: str, chunk_size: int | None) -> list[str] | None:
    """The landing rows of one NDJSON line: ``[document, chunk 1, ...]``, or
    None when the line lands unchanged as its only row.

    Compat chunk-split (snowflake.go:167-194): each top-level key whose value
    is a JSON array longer than ``chunk_size`` is sliced out of the document
    into extra rows ``{DOCUMENT_ID, key: slice}``, keys in sorted order.

    Runs before the metadata filter, so a line that is not a JSON object,
    or not JSON at all, returns None for the parse-skip path to drop."""
    # a list of more than chunk_size items holds at least chunk_size commas,
    # so a line with fewer cannot split and needs no parse
    if chunk_size is None or line.count(",") < chunk_size:
        return None
    try:
        doc = json.loads(line)
    except (ValueError, RecursionError):
        return None
    if not isinstance(doc, dict):
        return None
    chunks = []
    for key in sorted(k for k in doc if isinstance(doc[k], list)):
        value = doc[key]
        if len(value) > chunk_size:
            for i in range(0, len(value), chunk_size):
                chunks.append({"DOCUMENT_ID": doc.get("DOCUMENT_ID"), key: value[i : i + chunk_size]})
            del doc[key]
    if not chunks:
        return None
    return [json.dumps(d, separators=(",", ":")) for d in [doc, *chunks]]


def land_ndjson_lines(
    spark: SparkSession,
    lines: Iterable[str],
    batch_date: datetime,
    chunk_size: int | None = None,
) -> DataFrame:
    """Land an in-memory iterable of NDJSON lines (one sync page).

    The page goes to the JVM as one Arrow batch and plans as a
    ``LocalTableScan``; a list of tuples would plan as a pickled Python RDD
    (``Scan ExistingRDD``) that every job over the page re-reads. Lines are
    split here, where the page already is, so landing runs no Python
    worker. The page (bounded by MAX_DOCUMENTS) is one partition, so the
    in-batch dedup plans with no shuffle and an append is one Spark job."""
    _check_chunk_size(chunk_size)
    values = [l for l in lines if l.strip()]
    if chunk_size is None:
        page, schema = pd.DataFrame({"value": values}, dtype=object), "value string"
    else:
        parts = [split_document(v, chunk_size) for v in values]
        page, schema = pd.DataFrame({"value": values, "parts": parts}, dtype=object), _SPLIT_SCHEMA
    df = spark.createDataFrame(page, schema).coalesce(1)
    return _land(df, batch_date, chunk_size)


def _split_lines(raw: DataFrame, chunk_size: int) -> DataFrame:
    """``split_document`` over a distributed ``value`` column, Arrow-batched
    in place, so the input keeps its partitioning."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parts = [split_document(v, chunk_size) for v in pdf["value"]]
            yield pd.DataFrame({"value": pdf["value"], "parts": parts})

    return raw.mapInPandas(run, schema=_SPLIT_SCHEMA)


def _land(raw: DataFrame, batch_date: datetime, chunk_size: int | None) -> DataFrame:
    """Land a ``value`` column of NDJSON lines. With chunking on, ``raw``
    may carry the lines' ``split_document`` output as ``parts``; it is
    computed here when it does not.

    The plan is built from SQL expression strings: a sync page pays this
    construction on every commit, and one string per step costs one Py4J
    call where the Column form costs one per sub-expression."""
    _check_chunk_size(chunk_size)
    if batch_date.tzinfo is None:
        batch_date = batch_date.replace(tzinfo=timezone.utc)

    split = chunk_size is not None
    if split:
        if "parts" not in raw.columns:
            raw = _split_lines(raw, chunk_size)
        # metadata comes from the document row; chunk rows inherit it
        doc, rows = "coalesce(element_at(parts, 1), value)", "coalesce(parts, array(value))"
    else:
        doc = rows = "value"

    meta = raw.selectExpr(f"from_json({doc}, '{_META_DDL}') AS m", f"{rows} AS data").where(
        # Parse-skip path: malformed JSON (null struct) or records missing the
        # required identity fields are dropped, like the reference logs-and-skips.
        "m IS NOT NULL AND m.`$TYPE` IS NOT NULL AND m.DOCUMENT_ID IS NOT NULL AND m.`$VERSION` IS NOT NULL"
    )
    if split:
        meta = meta.selectExpr("m", "posexplode(data) AS (chunk, data)")
    else:
        meta = meta.selectExpr("m", "0 AS chunk", "data")

    landed = meta.selectExpr(
        f"timestamp_micros({(batch_date - _EPOCH) // timedelta(microseconds=1)}) AS batch_date",
        "m.`$TYPE` AS type",
        "m.DOCUMENT_ID AS id",
        "CAST(m.`$VERSION` AS BIGINT) AS version",
        "chunk",
        "m.`$AUTHOR_ID` AS author",
        "to_timestamp(m.`$DATE`) AS date",
        "coalesce(m.`$DELETED`, false) AS deleted",
        "data",
    )

    # In-batch idempotency on the logical PK (SURVEY §4 P10): if the same
    # (type,id,version,chunk) appears twice within one batch, keep one copy.
    return landed.dropDuplicates(["type", "id", "version", "chunk"])
