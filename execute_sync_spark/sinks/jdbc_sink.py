"""JDBC sink — parity with the reference's SQL Server / SQLite row sinks
(sqlserver.go:92-200, sqlite.go:76-155), expressed as Spark's batched JDBC
writer instead of row-at-a-time prepared INSERTs.

Requires the target's JDBC driver on the Spark classpath; not exercisable in
this environment (no JDBC drivers baked in), so writes raise a clear error
when the driver is missing rather than failing deep in py4j. The views are
Spark views over the table read back; prune is the target's own DML.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from execute_sync_spark.landing.schema import LANDING_COLUMNS
from execute_sync_spark.schema.model import RootSchema
from execute_sync_spark.sinks.base import register_views
from execute_sync_spark.sinks.ddl import DIALECTS


class JdbcSink:
    def __init__(self, spark: SparkSession, url: str, table: str = "EXECUTE_DOCUMENTS", properties: dict | None = None):
        self.spark = spark
        self.url = url
        self.table = table
        self.properties = properties or {}

    def append(self, landed: DataFrame, txn_id: str | None = None) -> int:
        n = landed.count()
        try:
            (
                landed.select(*LANDING_COLUMNS)
                .write.mode("append")
                .jdbc(self.url, self.table, properties=self.properties)
            )
        except Exception as e:  # driver-missing or connectivity
            raise RuntimeError(
                f"JDBC append to {self.url} failed — is the JDBC driver on the "
                f"Spark classpath? ({e})"
            ) from e
        return n

    def read(self) -> DataFrame:
        return self.spark.read.jdbc(self.url, self.table, properties=self.properties)

    def create_views(self, root: RootSchema) -> dict[str, DataFrame]:
        """Register EXECUTE_DOCUMENTS[_LATEST[_ALL_VERSIONS]] + the forest."""
        return register_views(self.read(), root)

    def prune(self) -> int:
        """Spark's JDBC writer only inserts, so D3 compaction cannot run here."""
        raise NotImplementedError(
            f"JdbcSink cannot prune {self.table}: Spark's JDBC writer runs no DELETE. "
            "Run the target's anti-join DELETE with its own client; "
            "execute_sync_spark.sinks.ddl.DIALECTS[dialect]['prune']() generates it "
            f"for {', '.join(sorted(DIALECTS))}"
        )
