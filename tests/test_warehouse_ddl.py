"""Generated-DDL parity for the Snowflake / Databricks / SQL Server
warehouses (sinks/ddl.py).

No live warehouse exists in this environment, so correctness is pinned two
ways:

1. Golden text for a small hand-verified schema covering every field type —
   the exact SQL shapes of the reference's bootstrap + view generators
   (snowflake.go:31-75,314-379; databricks.go:113-132,333-430;
   sqlserver.go:29-54,257-354).
2. The Databricks dialect is Spark SQL, so the generated view forest is
   EXECUTED against the landed fixture feed in the local session (views
   rewritten to TEMPORARY, Delta table stood in by a temp view over the
   landing DataFrame) and must reproduce the fixture goldens: AFE = 3 rows,
   AFE_PARTNERS = 2, TICKET_LINES = 25 rows summing QTY = 300.
"""

import json
import os

import pytest

from execute_sync_spark.landing import land_ndjson_lines
from execute_sync_spark.schema.model import load_root_schema, parse_root_schema
from execute_sync_spark.sinks import ddl
from tests.fixtures import feed

# one doc type exercising every branch of the generators
MINI_SCHEMA = parse_root_schema({
    "JOB": {
        "NAME": {"TYPE": "TEXT"},
        "N_RUNS": {"TYPE": "INTEGER"},
        "BUDGET": {"TYPE": "DECIMAL"},
        "ACTIVE_FLG": {"TYPE": "BOOLEAN"},
        "STARTED_AT": {"TYPE": "DATETIME"},
        "OWNER": {"TYPE": "DOCUMENT", "DOCUMENT_TYPE": "VENDOR"},
        "META": {"TYPE": "RECORD", "RECORD_TYPE": {"KIND": {"TYPE": "TEXT"}}},
        "STEPS": {"TYPE": "RECORD LIST", "RECORD_TYPE": {
            "SEQ": {"TYPE": "INTEGER"},
            "SUB": {"TYPE": "RECORD", "RECORD_TYPE": {"K": {"TYPE": "TEXT"}}},
        }},
        "BLOB": {"TYPE": "GEOMETRY"},  # unknown type -> skipped
    }
})


def test_snowflake_bootstrap_golden():
    stmts = ddl.snowflake_bootstrap()
    assert len(stmts) == 4
    fmt, stage, table, pipe = stmts
    assert fmt.startswith("CREATE FILE FORMAT IF NOT EXISTS EXECUTE_DOCUMENTS_FORMAT")
    assert "TYPE = CSV SKIP_HEADER=1 TRIM_SPACE=true" in fmt
    assert stage == ("CREATE STAGE IF NOT EXISTS EXECUTE_DOCUMENTS_STAGE"
                     " FILE_FORMAT = 'EXECUTE_DOCUMENTS_FORMAT'")
    assert "BATCH_DATE TIMESTAMP_NTZ(9) NOT NULL" in table
    assert "DATA VARIANT NOT NULL" in table
    assert ("CONSTRAINT EXECUTE_DOCUMENTS_PK PRIMARY KEY"
            " (BATCH_DATE, TYPE, ID, VERSION, CHUNK)") in table
    assert pipe == ("CREATE PIPE IF NOT EXISTS EXECUTE_DOCUMENTS_PIPE"
                    " AS COPY INTO EXECUTE_DOCUMENTS"
                    " FROM @EXECUTE_DOCUMENTS_STAGE"
                    " FILE_FORMAT = 'EXECUTE_DOCUMENTS_FORMAT'")


def test_snowflake_upload_and_prune_golden():
    put, refresh = ddl.snowflake_upload_plan("file:///tmp/documents_x.csv")
    assert put == "PUT 'file:///tmp/documents_x.csv' @EXECUTE_DOCUMENTS_STAGE"
    assert refresh == "ALTER PIPE EXECUTE_DOCUMENTS_PIPE REFRESH"
    delete, remove = ddl.snowflake_prune()
    assert "WHERE (TYPE, ID, VERSION, BATCH_DATE) NOT IN (" in delete
    assert "GROUP BY TYPE, ID, VERSION" in delete
    assert remove == "REMOVE @EXECUTE_DOCUMENTS_STAGE"


def test_snowflake_view_forest_golden():
    views = ddl.snowflake_views(MINI_SCHEMA)
    # D1/D2 + JOB + JOB_META + JOB_STEPS (+ record-under-list child)
    assert list(views) == ["EXECUTE_DOCUMENTS_LATEST_ALL_VERSIONS",
                           "EXECUTE_DOCUMENTS_LATEST", "JOB_META",
                           "JOB_STEPS_SUB", "JOB_STEPS", "JOB"]
    job = views["JOB"]
    assert job == (
        "CREATE OR REPLACE SECURE VIEW JOB AS SELECT id AS DOCUMENT_ID, "
        'deleted AS "_DELETED", author AS "_AUTHOR", version AS "_VERSION", '
        'date AS "_DATE", '
        "data:NAME::string AS NAME, "
        "data:N_RUNS::int AS N_RUNS, "
        "data:BUDGET::float AS BUDGET, "
        "data:ACTIVE_FLG::int AS ACTIVE_FLG, "
        "data:STARTED_AT::timestamp_tz AS STARTED_AT, "
        "data:OWNER:DOCUMENT_ID::string AS OWNER /* References VENDOR.DOCUMENT_ID */"
        " FROM EXECUTE_DOCUMENTS_LATEST WHERE type='JOB' AND chunk=0"
    )
    meta = views["JOB_META"]
    assert "data:META:KIND::string AS KIND" in meta
    assert meta.endswith("WHERE type='JOB' AND chunk=0")
    assert '"_DELETED"' not in meta  # metadata cols only on the root view
    steps = views["JOB_STEPS"]
    assert "value:SEQ::int AS SEQ" in steps
    assert ", LATERAL FLATTEN( INPUT => data:STEPS)" in steps
    assert "chunk=0" not in steps  # flattened views union all chunk slices
    # the LISTITEM_ID projection appears only on record-under-list CHILDREN
    # (root has prefix "value:", snowflake.go:320-323), not the list view
    assert "LISTITEM_ID" not in steps
    sub = views["JOB_STEPS_SUB"]
    assert "value:LISTITEM_ID::string AS LISTITEM_ID" in sub
    assert "value:SUB:K::string AS K" in sub


def test_sqlserver_golden():
    (boot,) = ddl.sqlserver_bootstrap()
    assert "IF NOT EXISTS (SELECT * FROM sys.objects" in boot
    assert "CREATE TABLE [EXECUTE_DOCUMENTS]" in boot
    assert ("CONSTRAINT [PK_EXECUTE_DOCUMENTS] PRIMARY KEY CLUSTERED"
            " (BATCH_DATE, TYPE, ID, VERSION, CHUNK)") in boot
    ins = ddl.sqlserver_insert()
    assert "INSERT INTO [EXECUTE_DOCUMENTS]" in ins
    assert "@p1, @p2, @p3, @p4, @p5, @p6, @p7, @p8, @p9" in ins
    (prune,) = ddl.sqlserver_prune()
    assert prune.startswith("DELETE FROM [EXECUTE_DOCUMENTS]")
    assert "WHERE NOT EXISTS (" in prune
    assert "SELECT MAX(BATCH_DATE) FROM [EXECUTE_DOCUMENTS] t3" in prune

    views = ddl.sqlserver_views(MINI_SCHEMA)
    job = views["JOB"]
    assert job == (
        "create or alter view [JOB] as select id as DOCUMENT_ID, "
        "deleted as [_DELETED], author as [_AUTHOR], version as [_VERSION], "
        "date as [_DATE], [obj_NAME] as NAME, [obj_N_RUNS] as N_RUNS, "
        "[obj_BUDGET] as BUDGET, [obj_ACTIVE_FLG] as ACTIVE_FLG, "
        "[obj_STARTED_AT] as STARTED_AT, [obj_OWNER] as OWNER "
        "from EXECUTE_DOCUMENTS_LATEST OUTER APPLY OPENJSON(data, '$') WITH "
        "([obj_NAME] NVARCHAR(MAX) '$.NAME', [obj_N_RUNS] INT '$.N_RUNS', "
        "[obj_BUDGET] FLOAT '$.BUDGET', [obj_ACTIVE_FLG] BIT '$.ACTIVE_FLG', "
        "[obj_STARTED_AT] DATETIME2 '$.STARTED_AT', "
        "[obj_OWNER] NVARCHAR(255) '$.OWNER.DOCUMENT_ID') AS obj "
        "where EXECUTE_DOCUMENTS_LATEST.type='JOB' and chunk=0"
    )
    steps = views["JOB_STEPS"]
    assert " CROSS APPLY OPENJSON(data, '$.STEPS') AS value" in steps
    assert "CAST(JSON_VALUE(value, '$.LISTITEM_ID') as nvarchar) as LISTITEM_ID" in steps
    assert "chunk=0" not in steps
    meta = views["JOB_META"]
    assert "OPENJSON(data, '$.META')" in meta


def test_databricks_bootstrap_and_qualification():
    (boot,) = ddl.databricks_bootstrap(catalog="main", schema="sync")
    assert boot.startswith("CREATE TABLE IF NOT EXISTS main.sync.EXECUTE_DOCUMENTS")
    assert boot.endswith("USING DELTA")
    (boot_schema_only,) = ddl.databricks_bootstrap(schema="sync")
    assert "sync.EXECUTE_DOCUMENTS" in boot_schema_only
    copy = ddl.databricks_copy_into("/tmp/x.csv")
    assert copy.startswith(
        "COPY INTO EXECUTE_DOCUMENTS (batch_date, type, id, version, chunk,"
        " author, date, deleted, data)")
    assert "FROM 'dbfs:/tmp/x.csv'" in copy
    assert "FILEFORMAT = CSV" in copy
    (prune,) = ddl.databricks_prune()
    assert "AND t.batch_date < latest.max_batch" in prune


def test_unsafe_schema_identifiers_rejected():
    bad = parse_root_schema({"T": {"A B": {"TYPE": "TEXT"}}})
    with pytest.raises(ValueError, match="unsafe identifier"):
        ddl.snowflake_views(bad)
    evil = parse_root_schema({"X'; DROP TABLE EXECUTE_DOCUMENTS;--": {}})
    with pytest.raises(ValueError, match="unsafe identifier"):
        ddl.sqlserver_views(evil)
    # a bad name nested in a RECORD, and a bad RECORD LIST name, in every dialect
    nested = parse_root_schema(
        {"T": {"R": {"TYPE": "RECORD", "RECORD_TYPE": {"A B": {"TYPE": "TEXT"}}}}})
    bad_list = parse_root_schema(
        {"T": {"L'X": {"TYPE": "RECORD LIST", "RECORD_TYPE": {"A": {"TYPE": "TEXT"}}}}})
    for views in (ddl.snowflake_views, ddl.databricks_views, ddl.sqlserver_views):
        for root in (nested, bad_list):
            with pytest.raises(ValueError, match="unsafe identifier"):
                views(root)


def test_databricks_views_execute_in_spark(spark):
    """The Databricks dialect IS Spark SQL — run the generated forest against
    the landed fixture feed and reproduce the fixture goldens. Views are
    rewritten to TEMPORARY because a local session cannot create permanent
    views over a temp landing relation; the SQL text is otherwise verbatim."""
    import os

    root = load_root_schema(
        os.path.join(os.path.dirname(__file__), "fixtures", "schema.json"))

    landing = None
    for lines, bd in zip(feed.batch_lines(), feed.BATCH_DATES):
        b = land_ndjson_lines(spark, lines, bd, chunk_size=feed.CHUNK_SIZE)
        landing = b if landing is None else landing.unionByName(b)
    landing.createOrReplaceTempView("EXECUTE_DOCUMENTS")

    views = ddl.databricks_views(root)
    for name, sql in views.items():
        spark.sql(sql.replace("CREATE OR REPLACE VIEW",
                              "CREATE OR REPLACE TEMPORARY VIEW", 1))

    afe = spark.sql("SELECT * FROM AFE").collect()
    assert len(afe) == 3
    by_id = {r.DOCUMENT_ID: r for r in afe}
    assert by_id["afe-0002"]._DELETED is True
    assert by_id["afe-0002"]._VERSION == 3
    assert by_id["afe-0001"].AFE_NUMBER == "AFE-001"
    assert by_id["afe-0001"].LINE_COUNT == 3
    assert by_id["afe-0001"].IS_CAPITAL is True
    # DOCUMENT FK extraction
    assert by_id["afe-0001"].OPERATOR == "vnd-01"

    partners = spark.sql("SELECT * FROM AFE_PARTNERS").collect()
    assert len(partners) == 2
    assert {p.PARTNER for p in partners} == {"vnd-01", "vnd-02"}

    # chunked list reassembly across chunk rows
    lines = spark.sql("SELECT count(*) AS n, sum(QTY) AS q FROM TICKET_LINES").first()
    assert (lines.n, lines.q) == (25, 300)

    # nested record recursion + list-in-list skip
    assert "AFE_DETAILS_AUDIT" in views
    assert "AFE_PARTNERS_NESTED_L" not in views
    meta = spark.sql("SELECT * FROM AFE_DETAILS").collect()
    assert {r.COST_CENTER for r in meta if r.COST_CENTER} != set()


def test_cli_create_views_dialect_dry_run(tmp_path, capsys):
    """create_views --dialect snowflake --dry-run emits the DDL without a
    Spark session or warehouse connection."""
    import os
    import shutil

    from execute_sync_spark.cli import main

    d = tmp_path / "feedsrc"
    d.mkdir()
    feed.write_batches(d)
    shutil.copy(
        os.path.join(os.path.dirname(__file__), "fixtures", "schema.json"),
        d / "schema.json",
    )
    rc = main(["create_views", "--dialect", "snowflake", "--dry-run",
               "-u", f"file://{d}", "--database-type", "parquet",
               "--database-dsn", str(tmp_path / "wh"),
               "-d", str(tmp_path / "state")])
    assert rc == 0
    out = capsys.readouterr().out
    assert "CREATE FILE FORMAT IF NOT EXISTS EXECUTE_DOCUMENTS_FORMAT" in out
    assert "CREATE PIPE IF NOT EXISTS EXECUTE_DOCUMENTS_PIPE" in out
    assert "CREATE OR REPLACE SECURE VIEW EXECUTE_DOCUMENTS_LATEST " in out
    assert "LATERAL FLATTEN( INPUT => data:PARTNERS)" in out

    rc = main(["create_views", "--dialect", "sqlserver", "--dry-run",
               "-u", f"file://{d}", "--database-type", "parquet",
               "--database-dsn", str(tmp_path / "wh"),
               "-d", str(tmp_path / "state")])
    assert rc == 0
    out = capsys.readouterr().out
    assert "CREATE TABLE [EXECUTE_DOCUMENTS]" in out
    assert "OUTER APPLY OPENJSON" in out

    rc = main(["create_views", "--dialect", "databricks", "--dry-run",
               "-u", f"file://{d}", "--database-type", "parquet",
               "--database-dsn", str(tmp_path / "wh"),
               "-d", str(tmp_path / "state")])
    assert rc == 0
    out = capsys.readouterr().out
    assert "USING DELTA" in out
    assert "from_json(ed.data, 'map<string, string>')" in out
    assert "lateral view explode" in out


def test_cli_create_views_dialect_requires_dry_run(tmp_path, capsys):
    """--dialect without --dry-run must exit non-zero (ADVICE r5): no live
    warehouse driver exists, so returning 0 would let a script believe the
    views were actually created when only DDL text was printed."""
    import os
    import shutil

    from execute_sync_spark.cli import main

    d = tmp_path / "feedsrc"
    d.mkdir()
    feed.write_batches(d)
    shutil.copy(
        os.path.join(os.path.dirname(__file__), "fixtures", "schema.json"),
        d / "schema.json",
    )
    rc = main(["create_views", "--dialect", "snowflake",
               "-u", f"file://{d}", "--database-type", "parquet",
               "--database-dsn", str(tmp_path / "wh"),
               "-d", str(tmp_path / "state")])
    assert rc == 2
    captured = capsys.readouterr()
    # the DDL is still emitted (informational) but the error names the cause
    assert "CREATE FILE FORMAT IF NOT EXISTS" in captured.out
    assert "requires --dry-run" in captured.err


# every shape the forest walk distinguishes: a record in a record, a list
# under a record, a record (and a record inside it) under a list item, a
# list inside a list, unknown types, an empty record, a DOCUMENT_ID field
# and a declared LISTITEM_ID in a list
DEEP_SCHEMA = parse_root_schema({
    "SHIPMENT": {
        "DOCUMENT_ID": {"TYPE": "TEXT"},
        "TITLE": {"TYPE": "TEXT"},
        "BUYER": {"TYPE": "DOCUMENT", "DOCUMENT_TYPE": "PARTY"},
        "SHAPE": {"TYPE": "GEOMETRY"},
        "SHIP": {"TYPE": "RECORD", "RECORD_TYPE": {
            "CITY": {"TYPE": "TEXT"},
            "GEO": {"TYPE": "RECORD", "RECORD_TYPE": {
                "LAT": {"TYPE": "DECIMAL"},
                "AT": {"TYPE": "DATETIME"},
            }},
            "STOPS": {"TYPE": "RECORD LIST", "RECORD_TYPE": {
                "SEQ": {"TYPE": "INTEGER"},
                "DONE": {"TYPE": "BOOLEAN"},
            }},
        }},
        "EMPTY": {"TYPE": "RECORD", "RECORD_TYPE": {}},
        "LINES": {"TYPE": "RECORD LIST", "RECORD_TYPE": {
            "LISTITEM_ID": {"TYPE": "TEXT"},
            "QTY": {"TYPE": "INTEGER"},
            "OWNER": {"TYPE": "DOCUMENT", "DOCUMENT_TYPE": "PARTY"},
            "SPEC": {"TYPE": "RECORD", "RECORD_TYPE": {
                "CODE": {"TYPE": "GUID"},
                "DIM": {"TYPE": "RECORD", "RECORD_TYPE": {
                    "W": {"TYPE": "DECIMAL"},
                }},
            }},
            "PARTS": {"TYPE": "RECORD LIST", "RECORD_TYPE": {
                "PN": {"TYPE": "TEXT"},
            }},
            "BLOB": {"TYPE": "RASTER"},
        }},
    },
    "PARTY": {"UWI": {"TYPE": "UWI"}},
})

FOREST_GOLDEN = os.path.join(os.path.dirname(__file__), "fixtures", "view_forest_golden.json")


def _every_dialect_forest(tmp_path) -> dict:
    """{schema: {output: [[view, sql], ...]}} for every SQL view-forest
    output, in emission order."""
    from execute_sync_spark.sinks.sqlite_sink import SqliteSink

    out: dict = {}
    for label, root in (("mini", MINI_SCHEMA), ("deep", DEEP_SCHEMA)):
        sqlite = SqliteSink(None, str(tmp_path / f"{label}.sqlite"))
        outputs = {
            "snowflake": ddl.snowflake_views(root),
            "databricks": ddl.databricks_views(root),
            "databricks_qualified": ddl.databricks_views(root, catalog="main", schema="sync"),
            "sqlserver": ddl.sqlserver_views(root),
            "sqlite": sqlite.create_views(root),
        }
        out[label] = {k: [list(kv) for kv in v.items()] for k, v in outputs.items()}
    return out


def test_every_dialect_forest_matches_golden(tmp_path):
    """Every view of every SQL dialect, byte for byte and in order, for the
    mini and the deep schema. The golden was captured from the recursive
    per-dialect generators; regenerate it only for a deliberate DDL change."""
    with open(FOREST_GOLDEN) as f:
        golden = json.load(f)
    assert _every_dialect_forest(tmp_path) == golden
