"""The view-forest compiler: schema tree -> shredded relational views.

One Spark implementation replaces the reference's four SQL-dialect generators
(snowflake.go:314-379, databricks.go:333-438, sqlserver.go:257-339,
sqlite.go:200-270). Semantics per node (SURVEY §2.V):

  V1  per-type filter: type = <docType>; chunk = 0 unless the view flattens a
      list (list slices live in chunk rows 1..n, snowflake.go:369-371)
  V2  ``id AS DOCUMENT_ID`` everywhere; metadata cols _DELETED/_AUTHOR/
      _VERSION/_DATE on root views only
  V3  typed scalar extraction — here free: ``data`` is parsed ONCE per doc
      type with from_json(full StructType); Catalyst prunes the parse to the
      fields each view actually reads
  V4  DOCUMENT refs -> FIELD.DOCUMENT_ID string FK column
  V5  RECORD -> child view <parent>_<field> over the deeper struct path (1:1)
  V6  RECORD LIST -> child view = explode over ALL chunk rows; RECORD children
      under a list item recurse with the same explode
  V7  unknown types / list-in-list skipped with a warning, as in every
      reference dialect (snowflake.go:351-356)

Deviations from the reference (deliberate, documented):
- BOOLEAN stays BooleanType (Snowflake casts to int, snowflake.go:343-344);
  DATETIME stays timestamp honoring DATE_UNZONED (Databricks truncates to
  date, databricks.go:374-375). We pick one canonical typed semantics.
- Direct list views also expose LISTITEM_ID (the reference only surfaces it
  on RECORD children of a list item — snowflake.go:320-323); additive column,
  needed to key flattened rows.
- Fields literally named DOCUMENT_ID are skipped in every dialect (the doc id
  is already projected) — kept.

Scale: each view is a lazy DataFrame over the landing log. With the landing
table partitioned by ``type``, V1 prunes partitions before any shuffle; the
single from_json parse is shared by every view of a doc type via common
subexpression elimination, and unaccessed struct fields are pruned from the
parse (Spark's JSON reader only materializes requested fields).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from execute_sync_spark.schema.compiler import LISTITEM_ID, doc_type_struct
from execute_sync_spark.schema.model import (
    SCALAR_TYPES,
    T_DOCUMENT,
    T_RECORD,
    T_RECORD_LIST,
    DocumentSchema,
    RootSchema,
)

log = logging.getLogger(__name__)

_PARSED = "__parsed"
_ITEM = "__item"
_META_COLS = [
    ("deleted", "_DELETED"),
    ("author", "_AUTHOR"),
    ("version", "_VERSION"),
    ("date", "_DATE"),
]


def create_views(latest_df: DataFrame, root: RootSchema, register: bool = True) -> dict[str, DataFrame]:
    """Compile the whole view forest over the D2 (``_LATEST``) DataFrame.

    Returns {view_name: DataFrame}; with ``register`` each is also registered
    as a temp view so it is queryable via spark.sql.
    """
    views: dict[str, DataFrame] = {}
    for doc_type, doc_schema in root.items():
        struct = doc_type_struct(doc_schema)
        parsed = latest_df.filter(F.col("type") == doc_type).withColumn(
            _PARSED, F.from_json(F.col("data"), struct)
        )
        _build_node(
            views,
            parsed,
            view_name=doc_type,
            record=doc_schema,
            path=F.col(_PARSED),
            is_root=True,
        )
    if register:
        for name, df in views.items():
            df.createOrReplaceTempView(name)
    return views


def _build_node(
    views: dict[str, DataFrame],
    parsed: DataFrame,
    view_name: str,
    record: DocumentSchema,
    path: Column,
    is_root: bool,
    listitem_col: Column | None = None,
) -> None:
    """Emit one view and recurse into RECORD / RECORD LIST children.

    ``path`` is the struct-valued Column this node's fields live under —
    ``__parsed`` for roots, ``__parsed.A.B`` for nested records, ``__item``
    for an exploded list item and ``__item.A`` for a record under it (in
    the last two cases ``parsed`` is the exploded frame and
    ``listitem_col`` carries the item's LISTITEM_ID).
    """
    flattened = listitem_col is not None
    cols: list[Column] = [F.col("id").alias("DOCUMENT_ID")]
    if flattened:
        cols.append(listitem_col.alias(LISTITEM_ID))
    if is_root:
        cols.extend(F.col(src).alias(dst) for src, dst in _META_COLS)

    for field, meta in record.items():
        if field == "DOCUMENT_ID":
            continue  # doc id is already projected (all dialects skip it)
        if meta.type in SCALAR_TYPES:
            cols.append(path[field].alias(field))
        elif meta.type == T_DOCUMENT:
            cols.append(path[field]["DOCUMENT_ID"].alias(field))
        elif meta.type == T_RECORD:
            _build_node(
                views,
                parsed,
                view_name=f"{view_name}_{field}",
                record=meta.record_type or {},
                path=path[field],
                is_root=False,
                listitem_col=listitem_col,
            )
        elif meta.type == T_RECORD_LIST:
            if flattened:
                log.warning("skipping %s_%s: list-in-list unsupported", view_name, field)
                continue
            # V6: explode across ALL chunk rows — a logical list is the union
            # of its chunk slices (§1.4)
            item = F.col(_ITEM)
            _build_node(
                views,
                parsed.select(F.col("id"), F.explode(path[field]).alias(_ITEM)),
                view_name=f"{view_name}_{field}",
                record=meta.record_type or {},
                path=item,
                is_root=False,
                listitem_col=item[LISTITEM_ID],
            )
        else:
            log.warning("skipping %s.%s of unknown type %s", view_name, field, meta.type)

    base = parsed if flattened else parsed.filter(F.col("chunk") == 0)
    if view_name in views:
        # underscore-joined path names can collide (A + B_C vs A_B + C); the
        # reference's CREATE OR REPLACE silently last-wins in random Go map
        # order — we last-win deterministically (schema order) and warn.
        log.warning("view name collision: %s redefined (path-name ambiguity)", view_name)
    views[view_name] = base.select(*cols)
