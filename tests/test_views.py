"""View-forest golden + DuckDB-oracle tests (SURVEY §2.V, V1-V7).

The oracle SQL mirrors the reference's generated view semantics
(snowflake.go:314-379) in DuckDB JSON functions over the exact same landed
rows (table ``landing`` registered in conftest).
"""

import pytest
from pyspark.sql import functions as F

from execute_sync_spark.operators import latest, create_views
from tests.util import assert_df_equal

D2_SQL = """
    SELECT ed.* FROM (
        SELECT ed.* FROM landing ed
        JOIN (SELECT type, id, version, MAX(batch_date) AS batch_date
              FROM landing GROUP BY type, id, version) k
        USING (type, id, version, batch_date)
    ) ed
    JOIN (SELECT type, id, MAX(version) AS version
          FROM landing GROUP BY type, id) k2
    USING (type, id, version)
"""


@pytest.fixture(scope="module")
def views(landed, root_schema):
    df, con = landed
    return create_views(latest(df), root_schema, register=True), con


AFE_ORACLE = f"""
    SELECT id AS DOCUMENT_ID, deleted AS _DELETED, author AS _AUTHOR,
           version AS _VERSION, date AS _DATE,
           json_extract_string(data, '$.AFE_NUMBER') AS AFE_NUMBER,
           json_extract_string(data, '$.WELL_UWI') AS WELL_UWI,
           json_extract_string(data, '$.EXT_GUID') AS EXT_GUID,
           CAST(json_extract(data, '$.LINE_COUNT') AS BIGINT) AS LINE_COUNT,
           CAST(json_extract(data, '$.ESTIMATE') AS DOUBLE) AS ESTIMATE,
           CAST(json_extract(data, '$.IS_CAPITAL') AS BOOLEAN) AS IS_CAPITAL,
           CAST(json_extract_string(data, '$.SPUD_DATE') AS TIMESTAMP) AS SPUD_DATE,
           timezone('UTC', CAST(json_extract_string(data, '$.APPROVED_AT') AS TIMESTAMPTZ)) AS APPROVED_AT,
           json_extract_string(data, '$.OPERATOR.DOCUMENT_ID') AS OPERATOR,
           json_extract_string(data, '$.RETIRED_FLD') AS RETIRED_FLD,
           CAST(json_extract(data, '$.EST_TOTAL') AS DOUBLE) AS EST_TOTAL
    FROM ({D2_SQL}) WHERE type = 'AFE' AND chunk = 0
"""


def test_afe_root_view(views, landed):
    vs, con = views
    assert_df_equal(vs["AFE"], con.sql(AFE_ORACLE), "AFE")
    # golden spot-checks
    rows = {r.DOCUMENT_ID: r for r in vs["AFE"].collect()}
    assert len(rows) == 3
    assert rows["afe-0001"]._VERSION == 2 and rows["afe-0001"].ESTIMATE == 125000.5
    assert rows["afe-0002"]._DELETED is True
    assert rows["afe-0001"].OPERATOR == "vnd-01"
    assert rows["afe-0003"].LINE_COUNT is None


def test_afe_details_views(views):
    vs, con = views
    oracle = f"""
        SELECT id AS DOCUMENT_ID,
               json_extract_string(data, '$.DETAILS.COST_CENTER') AS COST_CENTER,
               CAST(json_extract(data, '$.DETAILS.DEPTH_M') AS DOUBLE) AS DEPTH_M
        FROM ({D2_SQL}) WHERE type = 'AFE' AND chunk = 0
    """
    assert_df_equal(vs["AFE_DETAILS"], con.sql(oracle), "AFE_DETAILS")
    oracle_audit = f"""
        SELECT id AS DOCUMENT_ID,
               CAST(json_extract(data, '$.DETAILS.AUDIT.REVIEWED') AS BOOLEAN) AS REVIEWED
        FROM ({D2_SQL}) WHERE type = 'AFE' AND chunk = 0
    """
    assert_df_equal(vs["AFE_DETAILS_AUDIT"], con.sql(oracle_audit), "AFE_DETAILS_AUDIT")


def test_afe_partners_flatten(views):
    vs, con = views
    oracle = f"""
        SELECT id AS DOCUMENT_ID,
               json_extract_string(u, '$.LISTITEM_ID') AS LISTITEM_ID,
               json_extract_string(u, '$.PARTNER.DOCUMENT_ID') AS PARTNER,
               CAST(json_extract(u, '$.SHARE') AS DOUBLE) AS SHARE
        FROM (SELECT id, unnest(CAST(json_extract(data, '$.PARTNERS') AS JSON[])) AS u
              FROM ({D2_SQL}) WHERE type = 'AFE')
    """
    assert_df_equal(vs["AFE_PARTNERS"], con.sql(oracle), "AFE_PARTNERS")
    rows = vs["AFE_PARTNERS"].orderBy("LISTITEM_ID").collect()
    assert [r.LISTITEM_ID for r in rows] == ["li-1", "li-2"]
    assert rows[0].PARTNER == "vnd-01" and rows[0].SHARE == 0.6


def test_record_under_list(views):
    vs, con = views
    oracle = f"""
        SELECT id AS DOCUMENT_ID,
               json_extract_string(u, '$.LISTITEM_ID') AS LISTITEM_ID,
               json_extract_string(u, '$.NOTE.KIND') AS KIND
        FROM (SELECT id, unnest(CAST(json_extract(data, '$.PARTNERS') AS JSON[])) AS u
              FROM ({D2_SQL}) WHERE type = 'AFE')
    """
    assert_df_equal(vs["AFE_PARTNERS_NOTE"], con.sql(oracle), "AFE_PARTNERS_NOTE")


def test_ticket_chunked_list_union(views):
    """V6 must union list slices across chunk rows (snowflake.go:369-371
    inverse): 25 LINES landed as chunks 1..3 all reappear."""
    vs, con = views
    oracle = f"""
        SELECT id AS DOCUMENT_ID,
               json_extract_string(u, '$.LISTITEM_ID') AS LISTITEM_ID,
               CAST(json_extract(u, '$.QTY') AS BIGINT) AS QTY,
               CAST(json_extract(u, '$.COST') AS DOUBLE) AS COST
        FROM (SELECT id, unnest(CAST(json_extract(data, '$.LINES') AS JSON[])) AS u
              FROM ({D2_SQL}) WHERE type = 'TICKET')
    """
    assert_df_equal(vs["TICKET_LINES"], con.sql(oracle), "TICKET_LINES")
    assert vs["TICKET_LINES"].count() == 25
    # scalar view reads chunk 0 only -> exactly one TICKET row
    assert vs["TICKET"].count() == 1
    assert vs["TICKET"].first().SUBJECT == "large ticket"


def test_vendor_fk_join(views, spark):
    vs, _ = views
    joined = (
        vs["AFE"]
        .join(vs["VENDOR"], vs["AFE"].OPERATOR == vs["VENDOR"].DOCUMENT_ID)
        .select("AFE_NUMBER", "VENDOR_NAME")
        .collect()
    )
    assert [(r.AFE_NUMBER, r.VENDOR_NAME) for r in joined] == [("AFE-001", "Acme Drilling")]


def test_unknown_doc_type_not_compiled(views):
    vs, _ = views
    assert "WIDGET" not in vs  # landed but not in schema -> no view


def test_views_registered_for_sql(views, spark):
    vs, _ = views
    n = spark.sql(
        "SELECT count(*) AS n FROM AFE_PARTNERS p JOIN AFE a USING (DOCUMENT_ID)"
    ).first().n
    assert n == 2


def test_list_in_list_skipped_with_warning(spark, caplog):
    """Every reference dialect SKIPS a RECORD LIST nested in a RECORD LIST
    with a warning (snowflake.go:351-356); so do the views: the outer list
    is shredded, the inner one is not, and the warning is logged."""
    import json as _json
    import logging

    from execute_sync_spark.landing import land_ndjson_lines
    from execute_sync_spark.schema.model import parse_root_schema

    raw_schema = {
        "WELL": {
            "WELL_NAME": {"TYPE": "TEXT"},
            "PADS": {"TYPE": "RECORD LIST", "RECORD_TYPE": {
                "PAD_NAME": {"TYPE": "TEXT"},
                "SLOTS": {"TYPE": "RECORD LIST", "RECORD_TYPE": {
                    "SLOT_NO": {"TYPE": "INTEGER"},
                }},
            }},
        }
    }
    root = parse_root_schema(raw_schema)
    doc = {
        "$TYPE": "WELL", "DOCUMENT_ID": "w-1", "$VERSION": 1,
        "$AUTHOR_ID": "u-1", "$DATE": "2026-03-01T00:00:00Z",
        "WELL_NAME": "W1",
        "PADS": [
            {"LISTITEM_ID": "p1", "PAD_NAME": "A", "SLOTS": [
                {"LISTITEM_ID": "s1", "SLOT_NO": 1},
                {"LISTITEM_ID": "s2", "SLOT_NO": 2},
            ]},
            {"LISTITEM_ID": "p2", "PAD_NAME": "B", "SLOTS": [
                {"LISTITEM_ID": "s3", "SLOT_NO": 3},
            ]},
        ],
    }
    from datetime import datetime, timezone
    landing = land_ndjson_lines(
        spark, [_json.dumps(doc)], datetime(2026, 3, 1, tzinfo=timezone.utc)
    )

    with caplog.at_level(logging.WARNING):
        views = create_views(latest(landing), root, register=False)
    assert "WELL_PADS" in views and "WELL_PADS_SLOTS" not in views
    assert any("list-in-list" in r.message for r in caplog.records)
    pads = {(r.DOCUMENT_ID, r.LISTITEM_ID, r.PAD_NAME) for r in views["WELL_PADS"].collect()}
    assert pads == {("w-1", "p1", "A"), ("w-1", "p2", "B")}


def test_declared_listitem_id_is_projected_once(spark):
    """A schema may declare LISTITEM_ID inside a RECORD LIST. The list's
    struct and its flattened view carry it once — the item's own id — instead
    of a second field that makes every read of LISTITEM_ID ambiguous."""
    import json as _json
    from datetime import datetime, timezone

    from execute_sync_spark.landing import land_ndjson_lines
    from execute_sync_spark.schema.model import parse_root_schema

    root = parse_root_schema({"T": {"L": {"TYPE": "RECORD LIST", "RECORD_TYPE": {
        "LISTITEM_ID": {"TYPE": "TEXT"},
        "A": {"TYPE": "TEXT"},
        "R": {"TYPE": "RECORD", "RECORD_TYPE": {"B": {"TYPE": "TEXT"}}},
    }}}})
    doc = {"$TYPE": "T", "DOCUMENT_ID": "t-1", "$VERSION": 1, "$AUTHOR_ID": "u",
           "$DATE": "2026-03-01T00:00:00Z",
           "L": [{"LISTITEM_ID": "i1", "A": "a1", "R": {"B": "b1"}},
                 {"LISTITEM_ID": "i2", "A": "a2", "R": {"B": "b2"}}]}
    landing = land_ndjson_lines(spark, [_json.dumps(doc)], datetime(2026, 3, 1, tzinfo=timezone.utc))
    views = create_views(latest(landing), root, register=False)
    assert views["T_L"].columns == ["DOCUMENT_ID", "LISTITEM_ID", "A"]
    assert {tuple(r) for r in views["T_L"].select("LISTITEM_ID", "A").collect()} == {
        ("i1", "a1"), ("i2", "a2")}
    assert {tuple(r) for r in views["T_L_R"].select("LISTITEM_ID", "B").collect()} == {
        ("i1", "b1"), ("i2", "b2")}
