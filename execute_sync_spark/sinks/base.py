"""Warehouse abstraction mirroring the reference's ``Database`` interface
(/root/reference/src/internal/warehouses/warehouse.go:29-33):
{Prune, Upload, CreateViews} -> {prune, append, create_views}."""

from __future__ import annotations

from typing import Protocol

from pyspark.sql import DataFrame

from execute_sync_spark.operators import dedup as dedup_ops
from execute_sync_spark.operators.views import create_views as compile_views
from execute_sync_spark.schema.model import RootSchema

TABLE_NAME = "EXECUTE_DOCUMENTS"


class Sink(Protocol):
    def append(self, landed: DataFrame, txn_id: str | None = None) -> int:
        """Append one landed batch; returns rows written. A sink that records
        ``txn_id`` absorbs a replay of it (returns 0); others ignore it."""
        ...

    def create_views(self, root: RootSchema) -> dict[str, DataFrame]:
        """Register the dedup views + view forest over the landing table."""
        ...

    def prune(self) -> int:
        """D3 compaction; returns rows removed."""
        ...


def register_views(raw: DataFrame, root: RootSchema) -> dict[str, DataFrame]:
    """Register the landing table read back into Spark as EXECUTE_DOCUMENTS,
    its D1 (``_LATEST_ALL_VERSIONS``) and D2 (``_LATEST``) dedup views, and
    the view forest over D2; returns the forest."""
    raw.createOrReplaceTempView(TABLE_NAME)
    dedup_ops.latest_all_versions(raw).createOrReplaceTempView(f"{TABLE_NAME}_LATEST_ALL_VERSIONS")
    d2 = dedup_ops.latest(raw)
    d2.createOrReplaceTempView(f"{TABLE_NAME}_LATEST")
    return compile_views(d2, root, register=True)
