"""Warehouse DDL generators — text-only parity with the reference's
Snowflake / Databricks / SQL Server warehouses.

No live warehouse is reachable from this environment, so the bootstrap,
upload-plan, prune, and view-forest SQL the reference executes over a
connection is generated here as TEXT. The view forest itself comes from
``schema.model.view_forest``, the one walk the Spark views and the SQLite
sink render too; each dialect here only renders one ``ViewNode`` into one
statement. ``cli.py create_views --dialect snowflake --dry-run`` prints it;
tests/test_warehouse_ddl.py golden-tests it. A production deployment feeds
these strings to the warehouse's own client (snowflake-connector /
databricks-sql / pyodbc) — the only untested step is the connect call.

Reference shapes mirrored (file:line):
- Snowflake bootstrap (file format / stage / table / pipe):
  src/internal/warehouses/snowflake/snowflake.go:31-75
- Snowflake upload plan (PUT + ALTER PIPE REFRESH): snowflake.go:235-246
- Snowflake prune (anti-join DELETE + REMOVE @stage): snowflake.go:86-104
- Snowflake D1/D2 secure views (tuple-IN): snowflake.go:264-287
- Snowflake per-type view forest (variant paths + LATERAL FLATTEN):
  snowflake.go:314-379
- Databricks Delta bootstrap: databricks/databricks.go:113-132
- Databricks COPY INTO from DBFS: databricks.go:242-245
- Databricks prune (EXISTS DELETE): databricks.go:257-277
- Databricks D1/D2 views + get_json_object/from_json forest:
  databricks.go:279-430
- SQL Server bootstrap (IF NOT EXISTS ... CLUSTERED PK): sqlserver/
  sqlserver.go:29-54
- SQL Server prune (NOT EXISTS DELETE): sqlserver.go:57-88
- SQL Server row INSERT: sqlserver.go:103-115
- SQL Server OPENJSON view forest: sqlserver.go:203-354

All identifiers interpolated into DDL (doc types, field names — both from
the externally-fetched schema) are validated against ``[A-Za-z0-9_]+``
by ``checked_forest`` before any statement is rendered: the reference
interpolates them raw, which breaks (or injects SQL) on a hostile schema; we
fail loudly instead. Fields the forest skips never reach the SQL and are not
checked.
"""

from __future__ import annotations

import re

from execute_sync_spark.schema.model import (
    T_DOCUMENT,
    RootSchema,
    ViewNode,
    view_forest,
)

TABLE = "EXECUTE_DOCUMENTS"

_IDENT = re.compile(r"^[A-Za-z0-9_]+$")


def _check_ident(name: str) -> str:
    """Schema-sourced identifiers must be plain words before they are
    interpolated into DDL text."""
    if not _IDENT.match(name or ""):
        raise ValueError(f"unsafe identifier from schema: {name!r}")
    return name


def checked_forest(root: RootSchema) -> list[ViewNode]:
    """``view_forest(root)`` once every name the view DDL interpolates is
    checked: each view name (it holds the doc type and every field on the
    view's path, list included) and each projected field name."""
    forest = view_forest(root)
    for node in forest:
        _check_ident(node.name)
        for fname, _ in node.fields:
            _check_ident(fname)
    return forest


def _qualify(name: str, catalog: str | None = None, schema: str | None = None) -> str:
    """Databricks-style fully-qualified object name (databricks.go:42-51)."""
    if catalog and schema:
        return f"{catalog}.{schema}.{name}"
    if schema:
        return f"{schema}.{name}"
    return name


# ---------------------------------------------------------------------------
# Snowflake (snowflake.go)
# ---------------------------------------------------------------------------

def snowflake_bootstrap() -> list[str]:
    """Stage/file-format/table/pipe bootstrap (snowflake.go:31-75)."""
    return [
        f"CREATE FILE FORMAT IF NOT EXISTS {TABLE}_FORMAT TYPE = CSV SKIP_HEADER=1"
        " TRIM_SPACE=true FIELD_OPTIONALLY_ENCLOSED_BY = '\"'",
        f"CREATE STAGE IF NOT EXISTS {TABLE}_STAGE FILE_FORMAT = '{TABLE}_FORMAT'",
        f"""CREATE TABLE IF NOT EXISTS {TABLE} (
    BATCH_DATE TIMESTAMP_NTZ(9) NOT NULL,
    TYPE VARCHAR(50) NOT NULL,
    ID VARCHAR(50) NOT NULL,
    VERSION NUMBER(38,0) NOT NULL,
    CHUNK NUMBER(38,0) NOT NULL,
    AUTHOR VARCHAR(50),
    DATE TIMESTAMP_NTZ(9) NOT NULL,
    DELETED BOOLEAN NOT NULL,
    DATA VARIANT NOT NULL,
    CONSTRAINT {TABLE}_PK PRIMARY KEY (BATCH_DATE, TYPE, ID, VERSION, CHUNK)
)""",
        f"CREATE PIPE IF NOT EXISTS {TABLE}_PIPE AS COPY INTO {TABLE}"
        f" FROM @{TABLE}_STAGE FILE_FORMAT = '{TABLE}_FORMAT'",
    ]


def snowflake_upload_plan(csv_file_url: str) -> list[str]:
    """The staged-CSV load the reference performs per batch
    (snowflake.go:235-246): PUT the local file to the stage, then kick the
    pipe. The CSV wire format itself is produced by landing/stage.py
    (bit-exact golden-tested against the reference's csv.Writer output)."""
    return [
        f"PUT '{csv_file_url}' @{TABLE}_STAGE",
        f"ALTER PIPE {TABLE}_PIPE REFRESH",
    ]


def snowflake_prune() -> list[str]:
    """Targeted anti-join DELETE + stage cleanup (snowflake.go:86-104)."""
    return [
        f"""DELETE FROM {TABLE}
WHERE (TYPE, ID, VERSION, BATCH_DATE) NOT IN (
    SELECT TYPE, ID, VERSION, MAX(BATCH_DATE)
    FROM {TABLE}
    GROUP BY TYPE, ID, VERSION
)""",
        f"REMOVE @{TABLE}_STAGE",
    ]


def snowflake_views(root: RootSchema) -> dict[str, str]:
    """D1/D2 secure views + the per-type variant-path view forest.

    Ordered dict: _LATEST_ALL_VERSIONS, _LATEST (snowflake.go:264-287), then
    the recursive forest (snowflake.go:314-379) in schema order (the
    reference walks a Go map — unordered; we are deterministic).
    """
    out: dict[str, str] = {}
    out[f"{TABLE}_LATEST_ALL_VERSIONS"] = (
        f"""CREATE OR REPLACE SECURE VIEW {TABLE}_LATEST_ALL_VERSIONS AS
SELECT *
FROM {TABLE} ed
WHERE (ed.TYPE, ed.ID, ed.VERSION, ed.BATCH_DATE) IN (
    SELECT TYPE, ID, VERSION, MAX(BATCH_DATE)
    FROM {TABLE}
    GROUP BY TYPE, ID, VERSION
)"""
    )
    out[f"{TABLE}_LATEST"] = (
        f"""CREATE OR REPLACE SECURE VIEW {TABLE}_LATEST AS
SELECT *
FROM {TABLE}_LATEST_ALL_VERSIONS ed
WHERE (ed.TYPE, ed.ID, ed.VERSION) IN (
    SELECT TYPE, ID, MAX(VERSION)
    FROM {TABLE}
    GROUP BY TYPE, ID
)"""
    )
    for node in checked_forest(root):
        out[node.name] = _snowflake_view(node)
    return out


_SNOWFLAKE_CASTS = {"TEXT": "string", "GUID": "string", "UWI": "string",
                    "INTEGER": "int", "DECIMAL": "float", "BOOLEAN": "int",
                    "DATETIME": "timestamp_tz"}


def _snowflake_view(node: ViewNode) -> str:
    # column shapes mirror snowflake.go:314-360; a flattened view reads the
    # FLATTEN ``value``, everything else the ``data`` variant
    base = "value" if node.list_path else "data"
    root = ":".join((base, *node.path))
    cols = ["id AS DOCUMENT_ID"]
    if node.list_path and node.path:
        # only records under a list item surface it (snowflake.go:320-323)
        cols.append("value:LISTITEM_ID::string AS LISTITEM_ID")
    if node.is_root:
        cols += [
            'deleted AS "_DELETED"',
            'author AS "_AUTHOR"',
            'version AS "_VERSION"',
            'date AS "_DATE"',
        ]
    for fname, fmeta in node.fields:
        if fmeta.type == T_DOCUMENT:
            ref = fmeta.document_type or "?"
            cols.append(
                f"{root}:{fname}:DOCUMENT_ID::string AS {fname}"
                f" /* References {ref}.DOCUMENT_ID */"
            )
        else:
            cols.append(f"{root}:{fname}::{_SNOWFLAKE_CASTS[fmeta.type]} AS {fname}")
    flatten = ""
    if node.list_path:
        flatten = f", LATERAL FLATTEN( INPUT => {':'.join(('data', *node.list_path))})"
    sql = (
        f"CREATE OR REPLACE SECURE VIEW {node.name} AS SELECT {', '.join(cols)}"
        f" FROM {TABLE}_LATEST{flatten} WHERE type='{node.doc_type}'"
    )
    if not flatten:
        sql += " AND chunk=0"
    return sql


# ---------------------------------------------------------------------------
# Databricks (databricks.go)
# ---------------------------------------------------------------------------

def databricks_bootstrap(catalog: str | None = None, schema: str | None = None) -> list[str]:
    """Delta bootstrap (databricks.go:113-132)."""
    table = _qualify(TABLE, catalog, schema)
    return [
        f"""CREATE TABLE IF NOT EXISTS {table} (
    batch_date TIMESTAMP,
    type STRING,
    id STRING,
    version INT,
    chunk INT,
    author STRING,
    date TIMESTAMP,
    deleted BOOLEAN,
    data STRING
) USING DELTA"""
    ]


def databricks_copy_into(dbfs_path: str, catalog: str | None = None,
                         schema: str | None = None) -> str:
    """Per-batch DBFS load (databricks.go:242-245)."""
    table = _qualify(TABLE, catalog, schema)
    return (
        f"COPY INTO {table} (batch_date, type, id, version, chunk, author, date, deleted, data)\n"
        f"FROM 'dbfs:{dbfs_path}'\n"
        "FILEFORMAT = CSV\n"
        "FORMAT_OPTIONS('header' = 'false', 'delimiter' = '\\t',"
        " 'timestampFormat' = 'yyyy-MM-dd HH:mm:ss', 'quote' = '\"',"
        " 'escape' = '\"', 'nullValue' = 'NULL')"
    )


def databricks_prune(catalog: str | None = None, schema: str | None = None) -> list[str]:
    """Delta DELETE of superseded copies (databricks.go:257-277)."""
    table = _qualify(TABLE, catalog, schema)
    return [
        f"""DELETE FROM {table} t
WHERE EXISTS (
  SELECT 1 FROM (
    SELECT type, id, version, MAX(batch_date) AS max_batch
    FROM {table}
    GROUP BY type, id, version
  ) latest
  WHERE t.type = latest.type
    AND t.id = latest.id
    AND t.version = latest.version
    AND t.batch_date < latest.max_batch
)"""
    ]


def databricks_views(root: RootSchema, catalog: str | None = None,
                     schema: str | None = None) -> dict[str, str]:
    """D1/D2 views + the get_json_object/from_json forest
    (databricks.go:279-430)."""
    q = lambda n: _qualify(n, catalog, schema)  # noqa: E731
    out: dict[str, str] = {}
    out[f"{TABLE}_LATEST_ALL_VERSIONS"] = (
        f"""CREATE OR REPLACE VIEW {q(TABLE + '_LATEST_ALL_VERSIONS')} AS
SELECT ed.*
FROM {q(TABLE)} ed
INNER JOIN (
  SELECT type, id, version, MAX(batch_date) AS batch_date
  FROM {q(TABLE)}
  GROUP BY type, id, version
) latest
ON ed.type = latest.type
 AND ed.id = latest.id
 AND ed.version = latest.version
 AND ed.batch_date = latest.batch_date"""
    )
    out[f"{TABLE}_LATEST"] = (
        f"""CREATE OR REPLACE VIEW {q(TABLE + '_LATEST')} AS
SELECT ed.*, from_json(ed.data, 'map<string, string>') AS parsed_json
FROM {q(TABLE + '_LATEST_ALL_VERSIONS')} ed
INNER JOIN (
  SELECT type, id, MAX(version) AS version
  FROM {q(TABLE)}
  GROUP BY type, id
) latest
ON ed.type = latest.type
 AND ed.id = latest.id
 AND ed.version = latest.version"""
    )
    for node in checked_forest(root):
        out[node.name] = _databricks_view(node, catalog, schema)
    return out


_DATABRICKS_CASTS = {"TEXT": "string", "GUID": "string", "UWI": "string",
                     "INTEGER": "int", "DECIMAL": "float", "BOOLEAN": "boolean",
                     # parity quirk: the reference casts DATETIME to date here
                     # (databricks.go:374) — kept verbatim
                     "DATETIME": "date"}


def _databricks_view(node: ViewNode, catalog: str | None, schema_ns: str | None) -> str:
    # mirror databricks.go:333-430: root views read the pre-parsed
    # parsed_json column off _LATEST; nested views re-parse in a subquery
    q = lambda n: _qualify(n, catalog, schema_ns)  # noqa: E731
    root = "value" if node.list_path else "data"
    cols = ["id AS DOCUMENT_ID"]
    if node.list_path and node.path:
        cols.append("CAST(get_json_object(value, '$.LISTITEM_ID') AS string) AS LISTITEM_ID")
    if node.is_root:
        cols += ["deleted AS _DELETED", "author AS _AUTHOR",
                 "version AS _VERSION", "date AS _DATE"]
        parsed = "parsed_json"
    else:
        parsed = "parsed_data"
    for fname, fmeta in node.fields:
        if fmeta.type == T_DOCUMENT:
            ref = fmeta.document_type or "?"
            cols.append(
                f"CAST(get_json_object({parsed}['{fname}'], '$.DOCUMENT_ID') AS string)"
                f" AS {fname} /* References {ref}.DOCUMENT_ID */"
            )
        else:
            cols.append(f"CAST({parsed}['{fname}'] AS {_DATABRICKS_CASTS[fmeta.type]}) AS {fname}")
    flatten = ""
    if node.list_path:
        # parity quirk: a list is read by its own name off the top-level
        # parsed_json, whatever record holds it — kept verbatim
        flatten = (
            f" lateral view explode(from_json(parsed_json['{node.list_path[-1]}'],"
            f" 'array<string>')) AS value"
        )
    chunk = "" if flatten else " and chunk=0"
    if node.is_root:
        return (
            f"CREATE OR REPLACE VIEW {q(node.name)} AS\n"
            f"SELECT {', '.join(cols)}\n"
            f"FROM {q(TABLE + '_LATEST')}{flatten}\n"
            f"WHERE type='{node.doc_type}'{chunk}"
        )
    parse_clause = (
        f"from_json(get_json_object({root}, '{'.'.join(('$', *node.path))}'),"
        f" 'map<string, string>') AS parsed_data"
    )
    return (
        f"CREATE OR REPLACE VIEW {q(node.name)} AS\n"
        f"SELECT {', '.join(cols)}\n"
        "FROM (\n"
        f"  SELECT id, deleted, author, version, date, {root}, {parse_clause}\n"
        f"  FROM {q(TABLE + '_LATEST')}{flatten}\n"
        f"  WHERE type='{node.doc_type}'{chunk}\n"
        ")"
    )


# ---------------------------------------------------------------------------
# SQL Server (sqlserver.go)
# ---------------------------------------------------------------------------

def sqlserver_bootstrap() -> list[str]:
    """Guarded CREATE TABLE with the clustered composite PK
    (sqlserver.go:29-54)."""
    return [
        f"""IF NOT EXISTS (SELECT * FROM sys.objects WHERE object_id = OBJECT_ID(N'[{TABLE}]') AND type in (N'U'))
BEGIN
    CREATE TABLE [{TABLE}] (
        BATCH_DATE DATETIME2 NOT NULL,
        TYPE NVARCHAR(50) NOT NULL,
        ID NVARCHAR(50) NOT NULL,
        VERSION INT NOT NULL,
        CHUNK INT NOT NULL,
        AUTHOR NVARCHAR(50),
        DATE DATETIME2 NOT NULL,
        DELETED BIT NOT NULL,
        DATA NVARCHAR(MAX) NOT NULL,
        CONSTRAINT [PK_{TABLE}] PRIMARY KEY CLUSTERED (BATCH_DATE, TYPE, ID, VERSION, CHUNK)
    )
END"""
    ]


def sqlserver_insert() -> str:
    """The prepared row-INSERT the reference binds per chunk
    (sqlserver.go:103-115)."""
    return (
        f"INSERT INTO [{TABLE}] (\n"
        "    BATCH_DATE, TYPE, ID, VERSION, CHUNK, AUTHOR, DATE, DELETED, DATA\n"
        ") VALUES (\n"
        "    @p1, @p2, @p3, @p4, @p5, @p6, @p7, @p8, @p9\n"
        ")"
    )


def sqlserver_prune() -> list[str]:
    """NOT EXISTS DELETE of superseded copies (sqlserver.go:57-88)."""
    t = TABLE
    return [
        f"""DELETE FROM [{t}]
WHERE NOT EXISTS (
    SELECT 1 FROM [{t}] t2
    WHERE [{t}].TYPE = t2.TYPE
      AND [{t}].ID = t2.ID
      AND [{t}].VERSION = t2.VERSION
      AND [{t}].BATCH_DATE = (
        SELECT MAX(BATCH_DATE) FROM [{t}] t3
        WHERE t3.TYPE = t2.TYPE
          AND t3.ID = t2.ID
          AND t3.VERSION = t2.VERSION
    )
)"""
    ]


def sqlserver_views(root: RootSchema) -> dict[str, str]:
    """D1/D2 (CREATE OR ALTER, INNER JOIN form) + the OPENJSON forest
    (sqlserver.go:203-354)."""
    out: dict[str, str] = {}
    out[f"{TABLE}_LATEST_ALL_VERSIONS"] = (
        f"""CREATE OR ALTER VIEW {TABLE}_LATEST_ALL_VERSIONS AS
SELECT ed.*
FROM {TABLE} ed
INNER JOIN (
    SELECT TYPE, ID, VERSION, MAX(BATCH_DATE) AS BATCH_DATE
    FROM {TABLE}
    GROUP BY TYPE, ID, VERSION
) latest
ON ed.TYPE = latest.TYPE
   AND ed.ID = latest.ID
   AND ed.VERSION = latest.VERSION
   AND ed.BATCH_DATE = latest.BATCH_DATE"""
    )
    out[f"{TABLE}_LATEST"] = (
        f"""CREATE OR ALTER VIEW {TABLE}_LATEST AS
SELECT ed.*
FROM {TABLE}_LATEST_ALL_VERSIONS ed
INNER JOIN (
    SELECT TYPE, ID, MAX(VERSION) AS VERSION
    FROM {TABLE}
    GROUP BY TYPE, ID
) latest
ON ed.TYPE = latest.TYPE
   AND ed.ID = latest.ID
   AND ed.VERSION = latest.VERSION"""
    )
    for node in checked_forest(root):
        out[node.name] = _sqlserver_view(node)
    return out


_SQLSERVER_TYPES = {"TEXT": "NVARCHAR(MAX)", "GUID": "NVARCHAR(MAX)",
                    "UWI": "NVARCHAR(MAX)", "INTEGER": "INT", "DECIMAL": "FLOAT",
                    "BOOLEAN": "BIT", "DATETIME": "DATETIME2"}


def _sqlserver_view(node: ViewNode) -> str:
    # mirror sqlserver.go:257-354: the fields land in one OPENJSON WITH
    # clause on the record's json path; a flattened view reads the CROSS
    # APPLY OPENJSON ``value`` of its list
    data_field = "value" if node.list_path else "data"
    root = ".".join(("$", *node.path))
    with_clauses: list[str] = []
    with_fields: list[str] = []
    for fname, fmeta in node.fields:
        if fname == "LISTITEM_ID":
            continue  # parity quirk: the reference skips a declared one
        if fmeta.type == T_DOCUMENT:
            with_clauses.append(f"[obj_{fname}] NVARCHAR(255) '{root}.{fname}.DOCUMENT_ID'")
        else:
            with_clauses.append(f"[obj_{fname}] {_SQLSERVER_TYPES[fmeta.type]} '$.{fname}'")
        with_fields.append(fname)
    flatten = ""
    if node.list_path:
        flatten = f" CROSS APPLY OPENJSON(data, '{'.'.join(('$', *node.list_path))}') AS value"

    cols = ["id as DOCUMENT_ID"]
    if node.list_path:
        cols.append("CAST(JSON_VALUE(value, '$.LISTITEM_ID') as nvarchar) as LISTITEM_ID")
    if node.is_root:
        cols += ["deleted as [_DELETED]", "author as [_AUTHOR]",
                 "version as [_VERSION]", "date as [_DATE]"]
    select_fields = ", ".join(cols)
    if with_clauses:
        select_fields += ", " + ", ".join(
            f"[obj_{f}] as {f}" for f in with_fields
        )
        from_clause = (
            f"{TABLE}_LATEST{flatten} OUTER APPLY OPENJSON({data_field},"
            f" '{root}') WITH ({', '.join(with_clauses)}) AS obj"
        )
    else:
        from_clause = f"{TABLE}_LATEST{flatten}"
    sql = (
        f"create or alter view [{node.name}] as select {select_fields}"
        f" from {from_clause} where {TABLE}_LATEST.type='{node.doc_type}'"
    )
    if not flatten:
        sql += " and chunk=0"
    return sql


DIALECTS = {
    "snowflake": {
        "bootstrap": snowflake_bootstrap,
        "prune": snowflake_prune,
        "views": snowflake_views,
    },
    "databricks": {
        "bootstrap": databricks_bootstrap,
        "prune": databricks_prune,
        "views": databricks_views,
    },
    "sqlserver": {
        "bootstrap": sqlserver_bootstrap,
        "prune": sqlserver_prune,
        "views": sqlserver_views,
    },
}


def generate(dialect: str, root: RootSchema) -> list[str]:
    """Full dry-run script for a dialect: bootstrap + view forest, in
    execution order. ``prune`` is DML, not setup, so it's excluded here —
    fetch it from DIALECTS[dialect]["prune"]() when needed."""
    if dialect not in DIALECTS:
        raise ValueError(f"unknown dialect {dialect!r} ({'|'.join(sorted(DIALECTS))})")
    d = DIALECTS[dialect]
    return list(d["bootstrap"]()) + list(d["views"](root).values())
