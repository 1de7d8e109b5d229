"""Alternative warehouse sinks: DuckDB (real SQL warehouse, row-sink
parity), stdlib SQLite and JDBC."""

from execute_sync_spark.landing import land_ndjson_lines
from execute_sync_spark.sinks import DuckDBSink, JdbcSink
from execute_sync_spark.sources import FileFeedSource, WatermarkStore, sync_once
from tests.fixtures import feed


def _feed_dir(tmp_path):
    d = tmp_path / "feed"
    d.mkdir(exist_ok=True)
    feed.write_batches(d)
    import os
    import shutil

    shutil.copy(
        os.path.join(os.path.dirname(__file__), "fixtures", "schema.json"),
        d / "schema.json",
    )
    return str(d)


def test_duckdb_sink_end_to_end(spark, tmp_path):
    import duckdb

    sink = DuckDBSink(spark, str(tmp_path / "wh.duckdb"))
    state = WatermarkStore(str(tmp_path / "st"))
    n = sync_once(spark, FileFeedSource(_feed_dir(tmp_path)), sink, state,
                  chunk_size=feed.CHUNK_SIZE)
    assert n == 14

    # the warehouse is a real SQL database: query it directly
    con = duckdb.connect(str(tmp_path / "wh.duckdb"))
    assert con.execute("SELECT COUNT(*) FROM EXECUTE_DOCUMENTS").fetchone()[0] == 14

    # D3 as actual warehouse DML
    assert sink.prune() == 1
    assert sink.prune() == 0
    assert con.execute("SELECT COUNT(*) FROM EXECUTE_DOCUMENTS").fetchone()[0] == 13

    # INSERT OR REPLACE parity: re-appending the exact same landed batch
    # (same PKs) replaces instead of duplicating
    replay = land_ndjson_lines(spark, feed.batch_lines()[0], feed.BATCH_DATES[0])
    n13 = con.execute("SELECT COUNT(*) FROM EXECUTE_DOCUMENTS").fetchone()[0]
    sink.append(replay)
    sink.append(replay)
    assert con.execute("SELECT COUNT(*) FROM EXECUTE_DOCUMENTS").fetchone()[0] == n13 + 4

    # views compile over the DuckDB-backed landing
    from execute_sync_spark.schema.model import parse_root_schema

    # a D1 view left by another sink in this session must not stand in
    spark.catalog.dropTempView("EXECUTE_DOCUMENTS_LATEST_ALL_VERSIONS")
    views = sink.create_views(parse_root_schema(FileFeedSource(_feed_dir(tmp_path)).fetch_schema()))
    assert spark.sql("SELECT count(*) AS n FROM TICKET_LINES").first().n == 25
    assert {"AFE", "VENDOR"} <= set(views)
    # D1 (every version, newest copy of each) over the DuckDB-backed table
    d1 = spark.sql("SELECT type, id, version FROM EXECUTE_DOCUMENTS_LATEST_ALL_VERSIONS WHERE chunk = 0")
    assert d1.count() == d1.distinct().count() == con.execute(
        "SELECT COUNT(DISTINCT (type, id, version)) FROM EXECUTE_DOCUMENTS WHERE chunk = 0"
    ).fetchone()[0]


def test_sqlite_sink_end_to_end(spark, tmp_path):
    """Reference-SQLite parity on stdlib sqlite3 (sqlite.go:31-270): PK
    upsert, in-warehouse anti-join prune, and the generated NATIVE view
    forest queried directly in SQLite."""
    import sqlite3

    from execute_sync_spark.schema.model import parse_root_schema
    from execute_sync_spark.sinks import SqliteSink

    db = str(tmp_path / "wh.sqlite")
    sink = SqliteSink(spark, db)
    state = WatermarkStore(str(tmp_path / "st"))
    src = FileFeedSource(_feed_dir(tmp_path))
    assert sync_once(spark, src, sink, state, chunk_size=feed.CHUNK_SIZE) == 14

    con = sqlite3.connect(db)
    assert con.execute("SELECT COUNT(*) FROM EXECUTE_DOCUMENTS").fetchone()[0] == 14

    # INSERT OR REPLACE on the PK: appending the same landed batch twice
    # (same PKs) replaces instead of duplicating
    replay = land_ndjson_lines(spark, feed.batch_lines()[0], feed.BATCH_DATES[0],
                               chunk_size=feed.CHUNK_SIZE)
    n_replay = sink.append(replay)
    sink.append(replay)
    assert (
        con.execute("SELECT COUNT(*) FROM EXECUTE_DOCUMENTS").fetchone()[0]
        == 14 + n_replay
    )

    # native view forest
    views = sink.create_views(parse_root_schema(src.fetch_schema()))
    assert {"AFE", "AFE_DETAILS", "AFE_DETAILS_AUDIT", "AFE_PARTNERS",
            "AFE_PARTNERS_NOTE", "VENDOR", "TICKET", "TICKET_LINES"} <= set(views)
    assert "AFE_PARTNERS_NESTED_L" not in views  # list-in-list skipped

    # golden expectations (same as the Spark view compiler)
    afe = con.execute(
        'SELECT DOCUMENT_ID, "_DELETED", "_VERSION" FROM AFE ORDER BY DOCUMENT_ID'
    ).fetchall()
    assert len(afe) == 3
    assert ("afe-0002", 1, 3) in afe

    n, q = con.execute("SELECT COUNT(*), SUM(QTY) FROM TICKET_LINES").fetchone()
    assert (n, q) == (25, 300)  # chunk slices 1..3 re-unioned by json_each

    partners = con.execute(
        """SELECT p.DOCUMENT_ID, p.PARTNER, v.VENDOR_NAME, p.SHARE
           FROM AFE_PARTNERS p JOIN VENDOR v ON v.DOCUMENT_ID = p.PARTNER"""
    ).fetchall()
    assert len(partners) == 2

    # record-in-list views carry LISTITEM_ID
    cols = [d[0] for d in con.execute("SELECT * FROM AFE_PARTNERS_NOTE LIMIT 1").description]
    assert "LISTITEM_ID" in cols

    # D3 as in-warehouse DML: the feed's 1 superseded copy plus the
    # n_replay older-batch-date replays are all anti-join targets
    assert sink.prune() == 1 + n_replay
    assert sink.prune() == 0
    assert con.execute("SELECT COUNT(*) FROM EXECUTE_DOCUMENTS").fetchone()[0] == 13

    # read() round-trips into Spark with the landing schema
    assert sink.read().count() == 13
    assert set(sink.read().columns) == {
        "batch_date", "type", "id", "version", "chunk", "author", "date", "deleted", "data"
    }


def test_sqlite_append_bounded_batches(spark, tmp_path):
    """Driver memory for the embedded sink is bounded by batch_rows:
    toLocalIterator + chunked executemany must land every row (and stay
    idempotent on the PK) even when the chunk is far smaller than the
    batch."""
    from execute_sync_spark.sinks import SqliteSink

    sink = SqliteSink(spark, str(tmp_path / "wh.sqlite"))
    landed = land_ndjson_lines(spark, feed.batch_lines()[0], feed.BATCH_DATES[0],
                               chunk_size=feed.CHUNK_SIZE)
    total = landed.count()
    assert total > 3
    assert sink.append(landed, batch_rows=3) == total
    (n,) = sink.query("SELECT COUNT(*) FROM EXECUTE_DOCUMENTS")[0]
    assert n == total
    # replay: INSERT OR REPLACE on the PK keeps the count stable
    assert sink.append(landed, batch_rows=3) == total
    (n,) = sink.query("SELECT COUNT(*) FROM EXECUTE_DOCUMENTS")[0]
    assert n == total


def test_sqlite_views_reject_unsafe_schema_identifiers(spark, tmp_path):
    from execute_sync_spark.schema.model import parse_root_schema
    from execute_sync_spark.sinks import SqliteSink

    import pytest

    sink = SqliteSink(spark, str(tmp_path / "wh.sqlite"))
    bad = parse_root_schema({"AFE": {"BAD FIELD": {"TYPE": "TEXT"}}})
    with pytest.raises(ValueError, match="unsafe identifier"):
        sink.create_views(bad)

    # the whole forest is validated before any DDL runs: a bad name nested
    # in a later doc type leaves no view behind, not even the good ones
    half = parse_root_schema({
        "GOOD": {"A": {"TYPE": "TEXT"}},
        "T": {"R": {"TYPE": "RECORD", "RECORD_TYPE": {"BAD NAME": {"TYPE": "TEXT"}}}},
    })
    with pytest.raises(ValueError, match="unsafe identifier"):
        sink.create_views(half)
    assert sink.query("SELECT name FROM sqlite_master WHERE type = 'view'") == []


def test_jdbc_sink_views_and_prune(spark, tmp_path, monkeypatch):
    """The test suite has no JDBC driver, so the table read back is a landing
    frame; prune names the dialect DML instead of an AttributeError."""
    import pytest

    from execute_sync_spark.schema.model import parse_root_schema

    sink = JdbcSink(spark, f"jdbc:sqlite:{tmp_path / 'wh.db'}")
    landed = land_ndjson_lines(spark, feed.batch_lines()[0], feed.BATCH_DATES[0])
    monkeypatch.setattr(sink, "read", lambda: landed)
    views = sink.create_views(parse_root_schema(FileFeedSource(_feed_dir(tmp_path)).fetch_schema()))
    assert {"AFE", "VENDOR"} <= set(views)
    assert spark.sql("SELECT count(*) AS n FROM EXECUTE_DOCUMENTS").first().n == landed.count()
    assert views["AFE"].count() == spark.sql("SELECT * FROM AFE").count() > 0
    with pytest.raises(NotImplementedError, match=r"DIALECTS\[dialect\]\['prune'\].*sqlserver"):
        sink.prune()
