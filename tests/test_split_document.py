"""``split_document`` without Spark: the per-line compat chunk-split that a
sync page runs where it already is, before the upload."""

import json

import pytest

from execute_sync_spark.landing import ingest
from execute_sync_spark.landing.ingest import split_document
from tests.fixtures import feed


def _dumps(obj) -> str:
    return json.dumps(obj, separators=(",", ":"))


def _reference_split(line: str, chunk_size: int) -> list[str]:
    """The earlier ``mapInPandas`` chunk-split, on one landed document:
    ``[data, chunk 1, ...]``, with ``data`` the line itself when nothing
    split."""
    doc = json.loads(line)
    chunks = []
    for key in sorted(k for k in doc if isinstance(doc[k], list)):
        value = doc[key]
        if len(value) > chunk_size:
            for i in range(0, len(value), chunk_size):
                chunks.append({"DOCUMENT_ID": doc.get("DOCUMENT_ID"), key: value[i : i + chunk_size]})
            del doc[key]
    if chunks:
        line = _dumps(doc)
    return [line] + [_dumps(c) for c in chunks]


def _fixture_docs() -> list[str]:
    lines = [l for page in feed.batch_lines() for l in page]
    many = {"$TYPE": "T", "DOCUMENT_ID": "m-1", "$VERSION": 1, "b": list(range(7)),
            "a": [{"x": i} for i in range(12)], "Mixed": {"inner": [1, 2, 3]}, "c": [1, 2]}
    lines.append(_dumps(many))
    return [l for l in lines if l.startswith("{") and l.endswith("}")]


@pytest.mark.parametrize("chunk_size", [1, 2, 3, 5, 10, 24, 25, 26, 10000])
def test_split_matches_the_reference_on_the_fixture_feed(chunk_size):
    for line in _fixture_docs():
        parts = split_document(line, chunk_size)
        assert (parts or [line]) == _reference_split(line, chunk_size), line
        assert split_document(line, None) is None


@pytest.mark.parametrize("chunk_size", [1, 2, 10])
def test_comma_prefilter_is_exact(monkeypatch, chunk_size):
    """A list of more than ``chunk_size`` items holds at least ``chunk_size``
    commas, so a line with fewer is passed over without a parse."""
    over = _dumps({"L": ["x"] * (chunk_size + 1)})
    assert over.count(",") == chunk_size
    assert split_document(over, chunk_size) == [
        "{}", *(_dumps({"DOCUMENT_ID": None, "L": c}) for c in (["x"] * chunk_size, ["x"]))
    ]

    def no_parse(_):
        raise AssertionError("parsed a line that cannot split")

    monkeypatch.setattr(ingest.json, "loads", no_parse)
    assert split_document(_dumps({"L": ["x"] * chunk_size}), chunk_size) is None


@pytest.mark.parametrize("line", ["[]", "1", "null", '"a,b,c"', "[1,2,3,4]", '{"a":[1,2,3]',
                                  "{not json,,,,", "[" * 100000 + "]" * 100000, "1" * 5000])
def test_non_documents_land_unchanged(line):
    """The split runs before the metadata filter, so it sees every line and
    leaves the ones that are not JSON objects to the parse-skip path."""
    assert split_document(line, 1) is None
    assert split_document(line, None) is None
