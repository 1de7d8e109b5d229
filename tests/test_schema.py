from pyspark.sql import types as T

from execute_sync_spark.schema import (
    doc_type_struct,
    filter_inactive,
)
from execute_sync_spark.schema.model import filter_calcs, parse_root_schema


def test_scalar_and_special_types(root_schema):
    s = doc_type_struct(root_schema["AFE"])
    names = [f.name for f in s.fields]
    by_name = {f.name: f.dataType for f in s.fields}
    assert by_name["AFE_NUMBER"] == T.StringType()
    assert by_name["LINE_COUNT"] == T.LongType()
    assert by_name["ESTIMATE"] == T.DoubleType()
    assert by_name["IS_CAPITAL"] == T.BooleanType()
    assert by_name["SPUD_DATE"] == T.TimestampNTZType()  # DATE_UNZONED
    assert by_name["APPROVED_AT"] == T.TimestampType()
    # DOCUMENT reference -> struct with DOCUMENT_ID
    assert by_name["OPERATOR"] == T.StructType([T.StructField("DOCUMENT_ID", T.StringType(), True)])
    # unknown type skipped (V7)
    assert "MYSTERY" not in names


def test_nested_record_and_list(root_schema):
    s = doc_type_struct(root_schema["AFE"])
    by_name = {f.name: f.dataType for f in s.fields}
    details = by_name["DETAILS"]
    assert isinstance(details, T.StructType)
    audit = dict((f.name, f.dataType) for f in details.fields)["AUDIT"]
    assert isinstance(audit, T.StructType)

    partners = by_name["PARTNERS"]
    assert isinstance(partners, T.ArrayType)
    item = partners.elementType
    item_names = [f.name for f in item.fields]
    assert item_names[0] == "LISTITEM_ID"
    assert "PARTNER" in item_names and "SHARE" in item_names
    # list-in-list skipped
    assert "NESTED_L" not in item_names
    # record-in-list kept
    assert "NOTE" in item_names


def _nested(flag: dict) -> dict:
    """A doc type whose RECORD and RECORD LIST item each hold one field
    carrying ``flag`` beside a plain one."""
    fields = {"KEEP": {"TYPE": "TEXT"}, "DROP": {"TYPE": "TEXT", **flag}}
    return parse_root_schema({"T": {
        "R": {"TYPE": "RECORD", "RECORD_TYPE": fields},
        "L": {"TYPE": "RECORD LIST", "RECORD_TYPE": fields},
    }})


def test_filter_inactive(root_schema):
    filtered = filter_inactive(root_schema)
    assert "RETIRED_FLD" in root_schema["AFE"]
    assert "RETIRED_FLD" not in filtered["AFE"]
    # original untouched, actives kept
    assert "AFE_NUMBER" in filtered["AFE"]

    root = _nested({"ACTIVE": False})
    filtered = filter_inactive(root)
    for rec in ("R", "L"):
        assert list(filtered["T"][rec].record_type) == ["KEEP"]
        assert list(root["T"][rec].record_type) == ["KEEP", "DROP"]


def test_filter_calcs(root_schema):
    filtered = filter_calcs(root_schema)
    assert "EST_TOTAL" in root_schema["AFE"]
    assert "EST_TOTAL" not in filtered["AFE"]

    root = _nested({"FORMULA": "1 + 1"})
    filtered = filter_calcs(root)
    for rec in ("R", "L"):
        assert list(filtered["T"][rec].record_type) == ["KEEP"]
        assert list(root["T"][rec].record_type) == ["KEEP", "DROP"]
