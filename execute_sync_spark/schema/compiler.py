"""Compile the dynamic RootSchema tree into Spark StructTypes.

The reference shreds JSON with one path-extract per column per view
(snowflake.go:336-359). Spark-first we instead compile each document type to a
full StructType and parse the ``data`` JSON **once** with ``from_json``; every
derived view then reads typed struct fields (free column pruning, no repeated
parsing — SURVEY §4 P8).

Type mapping (SURVEY §1.2, canonical semantics — we deliberately fix the
reference's cross-dialect drift: BOOLEAN stays boolean, DATETIME honors
DATE_UNZONED as TimestampNTZ):

    TEXT / GUID / UWI     -> StringType
    INTEGER               -> LongType
    DECIMAL               -> DoubleType
    BOOLEAN               -> BooleanType
    DATETIME              -> TimestampType (zoned) / TimestampNTZType (unzoned)
    DOCUMENT              -> Struct<DOCUMENT_ID: string>   (FK reference)
    RECORD                -> StructType (recursive)
    RECORD LIST           -> ArrayType(StructType) with one LISTITEM_ID column
                             (a declared LISTITEM_ID field is that column)
    (unknown)             -> skipped with a warning (snowflake.go:357-358)
"""

from __future__ import annotations

import logging

from pyspark.sql import types as T

from execute_sync_spark.schema.model import (
    SCALAR_TYPES,
    T_DOCUMENT,
    T_RECORD,
    T_RECORD_LIST,
    DocumentSchema,
    FieldMetadata,
)

log = logging.getLogger(__name__)

# LISTITEM_ID is carried by every list item and surfaced in flattened views
# (snowflake.go:320-323).
LISTITEM_ID = "LISTITEM_ID"

SCALAR_TYPE_MAP: dict[str, T.DataType] = {
    "TEXT": T.StringType(),
    "GUID": T.StringType(),
    "UWI": T.StringType(),
    "INTEGER": T.LongType(),
    "DECIMAL": T.DoubleType(),
    "BOOLEAN": T.BooleanType(),
}


def _scalar_type(meta: FieldMetadata) -> T.DataType:
    if meta.type == "DATETIME":
        return T.TimestampNTZType() if meta.date_unzoned else T.TimestampType()
    return SCALAR_TYPE_MAP[meta.type]


def _field_type(meta: FieldMetadata, *, in_list: bool) -> T.DataType | None:
    """DataType for one field, or None if the field must be skipped."""
    if meta.type in SCALAR_TYPES:
        return _scalar_type(meta)
    if meta.type == T_DOCUMENT:
        # Document reference {DOCUMENT_ID: "..."} — keep the struct so the
        # view layer can surface FIELD.DOCUMENT_ID as a joinable FK column.
        return T.StructType([T.StructField("DOCUMENT_ID", T.StringType(), True)])
    if meta.type == T_RECORD:
        return _record_struct(meta.record_type or {}, in_list=in_list)
    if meta.type == T_RECORD_LIST:
        if in_list:
            # list-in-list is explicitly unsupported by every reference view
            # generator (snowflake.go:351-356) — skip with a warning
            log.warning("skipping nested RECORD LIST field %s (list-in-list unsupported)", meta.name)
            return None
        return T.ArrayType(_record_struct(meta.record_type or {}, in_list=True, with_listitem_id=True))
    log.warning("skipping field %s: unhandled type %s", meta.name, meta.type)
    return None


def _record_struct(doc: DocumentSchema, *, in_list: bool, with_listitem_id: bool = False) -> T.StructType:
    fields: list[T.StructField] = []
    if with_listitem_id:
        fields.append(T.StructField(LISTITEM_ID, T.StringType(), True))
    for fname, fmeta in doc.items():
        if with_listitem_id and fname == LISTITEM_ID:
            continue  # a declared LISTITEM_ID is the one added above
        dtype = _field_type(fmeta, in_list=in_list)
        if dtype is None:
            continue
        fields.append(T.StructField(fname, dtype, fmeta.nullable))
    return T.StructType(fields)


def doc_type_struct(doc_schema: DocumentSchema) -> T.StructType:
    """StructType for the DATA payload of one document type."""
    return _record_struct(doc_schema, in_list=False)
