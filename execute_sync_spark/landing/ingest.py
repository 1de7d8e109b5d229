"""NDJSON document batches -> landing DataFrame.

Spark-first ingest (SURVEY §3.1): the raw NDJSON is read distributed
(``spark.read.text``) or, for an in-memory page, shipped as one Arrow batch;
metadata fields are extracted JVM-side with a single
``from_json`` over a metadata-only StructType (parse errors -> null struct ->
row skipped, matching the reference's parse-skip path,
/root/reference/src/cmd_sync.go:154-157), and the whole line is kept as the
``data`` payload. No driver-side loops over records.

Compat chunk-splitting (§1.4, default OFF — Spark has no cell-size ceiling) is
implemented with an Arrow-batched ``mapInPandas`` because it must reshape rows
(1 doc -> 1 + n rows) based on dynamic top-level keys; this runs once at ingest
on the raw batch, never in the query path. Deviation from the reference: the
reference iterates Go map keys in random order when several lists in one
document overflow (snowflake.go:169-190); we sort keys so chunk numbering is
deterministic.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone
from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from execute_sync_spark.landing.schema import LANDING_COLUMNS, LANDING_SCHEMA

# Metadata-only parse schema: from_json ignores payload fields not listed here,
# so parsing cost is bounded regardless of document width. $VERSION arrives as
# a JSON number (float64 in the reference, cmd_sync metadata cast) — parse as
# double then cast to long.
_META_STRUCT = T.StructType(
    [
        T.StructField("$TYPE", T.StringType(), True),
        T.StructField("DOCUMENT_ID", T.StringType(), True),
        T.StructField("$VERSION", T.DoubleType(), True),
        T.StructField("$AUTHOR_ID", T.StringType(), True),
        T.StructField("$DATE", T.StringType(), True),
        T.StructField("$DELETED", T.BooleanType(), True),
    ]
)


def land_ndjson_lines(
    spark: SparkSession,
    lines: Iterable[str],
    batch_date: datetime,
    chunk_size: int | None = None,
    uppercase_keys: bool = False,
) -> DataFrame:
    """Land an in-memory iterable of NDJSON lines (one sync page).

    The page goes to the JVM as one Arrow batch and plans as a
    ``LocalTableScan``; a list of tuples would plan as a pickled Python RDD
    (``Scan ExistingRDD``) that every job over the page re-reads."""
    page = pd.DataFrame({"value": [l for l in lines if l.strip()]}, dtype=object)
    df = spark.createDataFrame(page, "value string")
    return _land(df, batch_date, chunk_size, uppercase_keys)


def land_ndjson_files(
    spark: SparkSession,
    paths: str | list[str],
    batch_date: datetime,
    chunk_size: int | None = None,
    uppercase_keys: bool = False,
) -> DataFrame:
    """Land NDJSON files (one JSON document per line) as one batch.

    ``paths`` may be a glob; reading is fully distributed.
    """
    df = spark.read.text(paths)
    return _land(df, batch_date, chunk_size, uppercase_keys)


def _land(raw: DataFrame, batch_date: datetime, chunk_size: int | None, uppercase_keys: bool = False) -> DataFrame:
    if batch_date.tzinfo is None:
        batch_date = batch_date.replace(tzinfo=timezone.utc)

    if uppercase_keys:
        # compat option for feeds whose key casing drifts from the schema:
        # Snowflake's data:FIELD path lookup is case-insensitive, Spark's
        # from_json is not — uppercase every key (recursively) at ingest to
        # match the Execute convention of uppercase schema field names.
        # Metadata keys ($TYPE, DOCUMENT_ID, ...) are already uppercase.
        raw = _uppercase_json_keys(raw)

    meta = raw.select(
        F.from_json(F.col("value"), _META_STRUCT).alias("m"),
        F.col("value").alias("data"),
    )
    # Parse-skip path: malformed JSON (null struct) or records missing the
    # required identity fields are dropped, like the reference logs-and-skips.
    meta = meta.filter(
        F.col("m").isNotNull()
        & F.col("m.$TYPE").isNotNull()
        & F.col("m.DOCUMENT_ID").isNotNull()
        & F.col("m.$VERSION").isNotNull()
    )

    landed = meta.select(
        F.lit(batch_date).cast(T.TimestampType()).alias("batch_date"),
        F.col("m.$TYPE").alias("type"),
        F.col("m.DOCUMENT_ID").alias("id"),
        F.col("m.$VERSION").cast(T.LongType()).alias("version"),
        F.lit(0).cast(T.IntegerType()).alias("chunk"),
        F.col("m.$AUTHOR_ID").alias("author"),
        F.to_timestamp(F.col("m.$DATE")).alias("date"),
        F.coalesce(F.col("m.$DELETED"), F.lit(False)).alias("deleted"),
        F.col("data"),
    )

    if chunk_size:
        landed = _apply_chunking(landed, chunk_size)

    # In-batch idempotency on the logical PK (SURVEY §4 P10): if the same
    # (type,id,version,chunk) appears twice within one batch, keep one copy.
    return landed.dropDuplicates(["type", "id", "version", "chunk"]).select(*LANDING_COLUMNS)


def _uppercase_json_keys(raw: DataFrame) -> DataFrame:
    """Uppercase JSON object keys recursively (Arrow-batched; runs once at
    ingest, never in the query path). Malformed lines pass through untouched
    for the normal parse-skip path."""

    def upper_keys(obj):
        if isinstance(obj, dict):
            return {k.upper() if isinstance(k, str) else k: upper_keys(v) for k, v in obj.items()}
        if isinstance(obj, list):
            return [upper_keys(v) for v in obj]
        return obj

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for line in pdf["value"]:
                try:
                    out.append(json.dumps(upper_keys(json.loads(line)), separators=(",", ":")))
                except (json.JSONDecodeError, TypeError):
                    out.append(line)
            yield pd.DataFrame({"value": out})

    return raw.mapInPandas(run, schema="value string")


def _apply_chunking(landed: DataFrame, chunk_size: int) -> DataFrame:
    """Compat chunk-split (snowflake.go:167-194): each top-level key whose
    value is a JSON array longer than ``chunk_size`` is sliced out of the
    document into extra rows {DOCUMENT_ID, key: slice} with chunk = 1..n."""

    result_schema = LANDING_SCHEMA

    def split_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            for row in pdf.itertuples(index=False):
                rec = dict(zip(pdf.columns, row))
                try:
                    doc = json.loads(rec["data"])
                except (json.JSONDecodeError, TypeError):
                    out_rows.append(rec)
                    continue
                chunks = []
                for key in sorted(k for k in doc if isinstance(doc[k], list)):
                    value = doc[key]
                    if len(value) > chunk_size:
                        for i in range(0, len(value), chunk_size):
                            chunks.append({"DOCUMENT_ID": doc.get("DOCUMENT_ID"), key: value[i : i + chunk_size]})
                        del doc[key]
                if chunks:
                    rec = dict(rec)
                    rec["data"] = json.dumps(doc, separators=(",", ":"))
                out_rows.append(rec)
                for i, chunk_doc in enumerate(chunks, start=1):
                    crec = dict(rec)
                    crec["chunk"] = i
                    crec["data"] = json.dumps(chunk_doc, separators=(",", ":"))
                    out_rows.append(crec)
            yield pd.DataFrame(out_rows, columns=list(pdf.columns))

    return landed.mapInPandas(split_batches, schema=result_schema)
