"""DuckDB warehouse sink — the testable analog of the reference's SQLite row
sink (sqlite.go:76-155): a local single-file warehouse with real SQL DML.

- ``append``: Arrow batches inserted transactionally; idempotency via the
  logical PK (INSERT OR REPLACE analog: delete-then-insert on the batch's
  PK set — sqlite.go:92 parity).
- ``prune``: the reference's actual D3 anti-join DELETE executed as SQL in
  the warehouse (sqlite.go:62-69) — unlike the parquet sink's rewrite.
- ``read``: back into Spark via Arrow for view compilation.

The transfer runs driver-side (DuckDB is an embedded, single-process store —
exactly like the reference's SQLite target); the Spark-native path for scale
is ParquetSink. This sink exists for small-warehouse parity and end-to-end
tests of the Database interface against a real SQL engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from execute_sync_spark.landing.schema import LANDING_COLUMNS
from execute_sync_spark.sinks.base import register_views

TABLE = "EXECUTE_DOCUMENTS"

_DDL = f"""
CREATE TABLE IF NOT EXISTS {TABLE} (
    batch_date TIMESTAMP, type VARCHAR, id VARCHAR, version BIGINT,
    chunk INTEGER, author VARCHAR, date TIMESTAMP, deleted BOOLEAN,
    data VARCHAR,
    PRIMARY KEY (batch_date, type, id, version, chunk)
)
"""


class DuckDBSink:
    def __init__(self, spark: SparkSession, db_path: str):
        import duckdb

        self.spark = spark
        self.db_path = db_path
        self._duckdb = duckdb
        with self._connect() as con:
            con.execute(_DDL)

    def _connect(self):
        return self._duckdb.connect(self.db_path)

    def append(self, landed: DataFrame, txn_id: str | None = None) -> int:
        pdf = landed.select(*LANDING_COLUMNS).toPandas()
        if pdf.empty:
            return 0
        with self._connect() as con:
            con.register("__batch", pdf)
            # INSERT OR REPLACE on the PK — literal parity with the
            # reference's SQLite sink (sqlite.go:92); one transaction
            con.execute(f"INSERT OR REPLACE INTO {TABLE} SELECT * FROM __batch")
        return len(pdf)

    def prune(self) -> int:
        """D3 as real warehouse DML — the reference's anti-join DELETE."""
        with self._connect() as con:
            before = con.execute(f"SELECT COUNT(*) FROM {TABLE}").fetchone()[0]
            con.execute(
                f"""DELETE FROM {TABLE} t WHERE EXISTS (
                        SELECT 1 FROM {TABLE} n
                        WHERE n.type = t.type AND n.id = t.id
                          AND n.version = t.version AND n.batch_date > t.batch_date)"""
            )
            after = con.execute(f"SELECT COUNT(*) FROM {TABLE}").fetchone()[0]
        return before - after

    def read(self) -> DataFrame:
        with self._connect() as con:
            pdf = con.execute(f"SELECT * FROM {TABLE}").df()
        from execute_sync_spark.landing.schema import LANDING_SCHEMA

        return self.spark.createDataFrame(pdf, schema=LANDING_SCHEMA)

    def create_views(self, root) -> dict:
        """Register EXECUTE_DOCUMENTS[_LATEST[_ALL_VERSIONS]] + the forest."""
        return register_views(self.read(), root)
