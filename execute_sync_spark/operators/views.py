"""The view-forest compiler: schema tree -> shredded relational views.

The Spark rendering of ``schema.model.view_forest``, the one walk that also
feeds the Snowflake / Databricks / SQL Server DDL (sinks/ddl.py) and the
SQLite sink (snowflake.go:314-379, databricks.go:333-438,
sqlserver.go:257-339, sqlite.go:200-270). Semantics per node (SURVEY §2.V):

  V1  per-type filter: type = <docType>; chunk = 0 unless the view flattens a
      list (list slices live in chunk rows 1..n, snowflake.go:369-371)
  V2  ``id AS DOCUMENT_ID`` everywhere; metadata cols _DELETED/_AUTHOR/
      _VERSION/_DATE on root views only
  V3  typed scalar extraction — here free: ``data`` is parsed ONCE per doc
      type with from_json(full StructType); Catalyst prunes the parse to the
      fields each view actually reads
  V4  DOCUMENT refs -> FIELD.DOCUMENT_ID string FK column
  V5  RECORD node -> the deeper struct path of its parent's frame (1:1)
  V6  RECORD LIST node -> explode over ALL chunk rows; RECORD nodes under a
      list item read the same exploded frame (one per doc type and list)
  V7  unknown types / list-in-list: dropped from the forest by the walk,
      with a warning, as in every reference dialect (snowflake.go:351-356)

Deviations from the reference (deliberate, documented):
- BOOLEAN stays BooleanType (Snowflake casts to int, snowflake.go:343-344);
  DATETIME stays timestamp honoring DATE_UNZONED (Databricks truncates to
  date, databricks.go:374-375). We pick one canonical typed semantics.
- Direct list views also expose LISTITEM_ID (the reference only surfaces it
  on RECORD children of a list item — snowflake.go:320-323); additive column,
  needed to key flattened rows. A field the schema declares as LISTITEM_ID
  is not projected a second time in a flattened view.
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
from execute_sync_spark.schema.model import T_DOCUMENT, RootSchema, view_forest

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
    parsed: dict[str, DataFrame] = {}
    exploded: dict[tuple[str, tuple[str, ...]], DataFrame] = {}
    for node in view_forest(root):
        if node.doc_type not in parsed:
            struct = doc_type_struct(root[node.doc_type])
            parsed[node.doc_type] = latest_df.filter(F.col("type") == node.doc_type).withColumn(
                _PARSED, F.from_json(F.col("data"), struct)
            )
        cols: list[Column] = [F.col("id").alias("DOCUMENT_ID")]
        if node.list_path:
            # V6: explode across ALL chunk rows — a logical list is the union
            # of its chunk slices (§1.4); every view under the list item reads
            # the same exploded frame
            key = (node.doc_type, node.list_path)
            if key not in exploded:
                exploded[key] = parsed[node.doc_type].select(
                    F.col("id"), F.explode(_struct_path(_PARSED, node.list_path)).alias(_ITEM)
                )
            base = exploded[key]
            record = _struct_path(_ITEM, node.path)
            cols.append(F.col(_ITEM)[LISTITEM_ID].alias(LISTITEM_ID))
        else:
            base = parsed[node.doc_type].filter(F.col("chunk") == 0)
            record = _struct_path(_PARSED, node.path)
        if node.is_root:
            cols.extend(F.col(src).alias(dst) for src, dst in _META_COLS)
        for field, meta in node.fields:
            if node.list_path and field == LISTITEM_ID:
                continue  # the item's LISTITEM_ID is already projected
            col = record[field]["DOCUMENT_ID"] if meta.type == T_DOCUMENT else record[field]
            cols.append(col.alias(field))
        if node.name in views:
            # underscore-joined path names can collide (A + B_C vs A_B + C);
            # the reference's CREATE OR REPLACE silently last-wins in random
            # Go map order — we last-win deterministically (schema order) and
            # warn.
            log.warning("view name collision: %s redefined (path-name ambiguity)", node.name)
        views[node.name] = base.select(*cols)
    if register:
        for name, df in views.items():
            df.createOrReplaceTempView(name)
    return views


def _struct_path(column: str, path: tuple[str, ...]) -> Column:
    """The struct field at ``path`` under ``column``."""
    col = F.col(column)
    for field in path:
        col = col[field]
    return col
