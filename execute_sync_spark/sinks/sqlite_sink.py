"""SQLite row sink — true end-to-end parity with the reference's SQLite
warehouse (/root/reference/src/internal/warehouses/sqlite/sqlite.go) on the
Python stdlib ``sqlite3`` module, so unlike the JDBC wrapper it is fully
testable in this environment.

Semantics mirrored (all verified by tests/test_sinks_alt.py):

- bootstrap DDL: 9-column EXECUTE_DOCUMENTS with the composite PRIMARY KEY
  (BATCH_DATE, TYPE, ID, VERSION, CHUNK) — sqlite.go:31-50;
- ``append``: one transaction of ``INSERT OR REPLACE`` on that PK
  (sqlite.go:87-150) — re-landing the same batch is idempotent;
- ``prune``: the targeted anti-join ``DELETE ... NOT IN (GROUP BY max)``
  executed in-warehouse (sqlite.go:62-69) — no table rewrite;
- ``create_views``: SQLite-NATIVE view DDL — ``_LATEST_ALL_VERSIONS`` (D1)
  and ``_LATEST`` (D2) tuple-IN views (sqlite.go:167-191) plus one
  json_extract view per node of ``schema.model.view_forest``
  (sqlite.go:200-270): scalar fields via ``json_extract(DATA, '$.F')``,
  DOCUMENT fields via ``'$.F.DOCUMENT_ID'``, RECORD views on the deeper
  path, RECORD LIST flatten via ``json_each`` across ALL chunk rows (chunk
  slices re-union), the LISTITEM_ID projection for records-in-lists, and
  ``chunk = 0`` on every non-flattened view. The whole forest is validated
  before any DDL runs.

Timestamps are stored as ISO-8601 TEXT exactly like the reference (SQLite has
no timestamp type); ``read`` parses them back for Spark.

This is a driver-side embedded store — the same deployment shape as the
reference's SQLite target (a local single-file warehouse). The distributed
path at scale is ParquetSink; this sink exists for small-warehouse parity and
for exercising the generated-DDL dialect against a real SQL engine.
"""

from __future__ import annotations

import sqlite3
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from execute_sync_spark.landing.schema import LANDING_COLUMNS, LANDING_SCHEMA
from execute_sync_spark.sinks.ddl import checked_forest
from execute_sync_spark.schema.model import T_DOCUMENT, RootSchema, ViewNode

TABLE = "EXECUTE_DOCUMENTS"

_DDL = f"""
CREATE TABLE IF NOT EXISTS {TABLE} (
    BATCH_DATE TEXT NOT NULL,
    TYPE TEXT NOT NULL,
    ID TEXT NOT NULL,
    VERSION INTEGER NOT NULL,
    CHUNK INTEGER NOT NULL,
    AUTHOR TEXT,
    DATE TEXT NOT NULL,
    DELETED BOOLEAN NOT NULL,
    DATA TEXT NOT NULL,
    PRIMARY KEY (BATCH_DATE, TYPE, ID, VERSION, CHUNK)
)
"""

# Fixed-width ISO text with microseconds: two sync pages landed within the
# same second keep distinct BATCH_DATE PKs, and lexicographic MAX()/ordering
# on the TEXT column equals timestamp ordering (sqlite.go stores TEXT too).
_ISO = "%Y-%m-%d %H:%M:%S.%f"


def _iso(ts: datetime | None) -> str | None:
    return ts.strftime(_ISO) if ts is not None else None


def _from_iso(s: str | None) -> datetime | None:
    return datetime.strptime(s, _ISO) if s else None


def _sqlite_view(node: ViewNode) -> str:
    """One forest view as SQLite DDL (sqlite.go:200-270)."""
    json_field = "value" if node.list_path else "DATA"
    json_root = ".".join(("$", *node.path))
    cols = [f"{TABLE}_LATEST.ID AS DOCUMENT_ID"]
    if node.list_path and node.path:
        # record-in-list rows carry their list identity
        cols.append(f"json_extract({json_field}, '$.LISTITEM_ID') AS LISTITEM_ID")
    if node.is_root:
        cols += [
            'DELETED AS "_DELETED"',
            'AUTHOR AS "_AUTHOR"',
            'VERSION AS "_VERSION"',
            'DATE AS "_DATE"',
        ]
    for fname, fmeta in node.fields:
        ref = ".DOCUMENT_ID" if fmeta.type == T_DOCUMENT else ""
        cols.append(f"json_extract({json_field}, '{json_root}.{fname}{ref}') AS {fname}")
    flatten = ""
    if node.list_path:
        flatten = f", json_each(DATA, '{'.'.join(('$', *node.list_path))}')"
    sql = (
        f"CREATE VIEW {node.name} AS SELECT {', '.join(cols)}"
        f" FROM {TABLE}_LATEST{flatten}"
        f" WHERE {TABLE}_LATEST.TYPE = '{node.doc_type}'"
    )
    if not flatten:
        sql += " AND CHUNK = 0"
    return sql


class SqliteSink:
    def __init__(self, spark: SparkSession, db_path: str):
        self.spark = spark
        self.db_path = db_path
        with self._connect() as con:
            con.execute(_DDL)

    def _connect(self) -> sqlite3.Connection:
        return sqlite3.connect(self.db_path)

    # -- Database interface (warehouse.go:29-33) ---------------------------

    def append(self, landed: DataFrame, txn_id: str | None = None,
               batch_rows: int = 10_000) -> int:
        """One transaction of INSERT OR REPLACE on the composite PK.

        The embedded single-file DB forces rows through the driver, but via
        ``toLocalIterator`` + chunked ``executemany`` so driver memory is
        bounded by ``batch_rows``, not the sync size — one Spark partition at
        a time is materialized, never the whole batch."""
        sql = (
            f"INSERT OR REPLACE INTO {TABLE}"
            " (BATCH_DATE, TYPE, ID, VERSION, CHUNK, AUTHOR, DATE, DELETED, DATA)"
            " VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)"
        )
        n = 0
        with self._connect() as con:
            buf: list[tuple] = []
            for r in landed.select(*LANDING_COLUMNS).toLocalIterator():
                buf.append((
                    _iso(r.batch_date), r.type, r.id, r.version, r.chunk,
                    r.author, _iso(r.date), bool(r.deleted), r.data,
                ))
                if len(buf) >= batch_rows:
                    con.executemany(sql, buf)
                    n += len(buf)
                    buf.clear()
            if buf:
                con.executemany(sql, buf)
                n += len(buf)
        return n

    def prune(self) -> int:
        """D3 as in-warehouse DML — the reference's targeted anti-join DELETE
        (sqlite.go:62-69); only superseded rows are touched."""
        with self._connect() as con:
            (before,) = con.execute(f"SELECT COUNT(*) FROM {TABLE}").fetchone()
            con.execute(
                f"""DELETE FROM {TABLE}
                    WHERE (TYPE, ID, VERSION, BATCH_DATE) NOT IN (
                        SELECT TYPE, ID, VERSION, MAX(BATCH_DATE)
                        FROM {TABLE} GROUP BY TYPE, ID, VERSION)"""
            )
            (after,) = con.execute(f"SELECT COUNT(*) FROM {TABLE}").fetchone()
        return before - after

    def read(self) -> DataFrame:
        """Landing table back into Spark (ISO text -> timestamps)."""
        with self._connect() as con:
            raw = con.execute(
                f"SELECT BATCH_DATE, TYPE, ID, VERSION, CHUNK, AUTHOR, DATE,"
                f" DELETED, DATA FROM {TABLE}"
            ).fetchall()
        data = [
            (_from_iso(b), t, i, v, c, a, _from_iso(d), bool(dl), dt)
            for (b, t, i, v, c, a, d, dl, dt) in raw
        ]
        return self.spark.createDataFrame(data, schema=LANDING_SCHEMA)

    def create_views(self, root: RootSchema) -> dict[str, str]:
        """Generate and install the SQLite-native view forest; returns
        {view_name: CREATE VIEW sql} for inspection."""
        # every schema-sourced name is validated before any DDL runs, so a
        # hostile schema leaves no half-built forest behind
        forest = checked_forest(root)
        created: dict[str, str] = {}
        with self._connect() as con:
            con.execute(
                f"""CREATE VIEW IF NOT EXISTS {TABLE}_LATEST_ALL_VERSIONS AS
                    SELECT * FROM {TABLE} ed
                    WHERE (ed.TYPE, ed.ID, ed.VERSION, ed.BATCH_DATE) IN (
                        SELECT TYPE, ID, VERSION, MAX(BATCH_DATE)
                        FROM {TABLE} GROUP BY TYPE, ID, VERSION)"""
            )
            con.execute(
                f"""CREATE VIEW IF NOT EXISTS {TABLE}_LATEST AS
                    SELECT * FROM {TABLE}_LATEST_ALL_VERSIONS ed
                    WHERE (ed.TYPE, ed.ID, ed.VERSION) IN (
                        SELECT TYPE, ID, MAX(VERSION)
                        FROM {TABLE} GROUP BY TYPE, ID)"""
            )
            for node in forest:
                sql = _sqlite_view(node)
                con.execute(f"DROP VIEW IF EXISTS {node.name}")
                con.execute(sql)
                created[node.name] = sql
        return created

    # -- convenience for tests / CLI ---------------------------------------

    def query(self, sql: str) -> list[tuple]:
        with self._connect() as con:
            return con.execute(sql).fetchall()
