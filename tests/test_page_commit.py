"""A sync page commits in one Spark job: the page is landed as a local
Arrow relation in one partition, split where it already is, and the sink
counts the rows it writes with an ``Observation`` instead of reading them
back. Jobs are counted through a job group and the status tracker."""

import logging
import threading
import uuid
from datetime import timedelta

from execute_sync_spark.landing import land_ndjson_lines
from execute_sync_spark.operators.dedup import superseded_rows
from execute_sync_spark.sinks import ParquetSink
from execute_sync_spark.sources import FileFeedSource, WatermarkStore, sync_once
from tests.fixtures import feed


def _jobs(spark, fn):
    """Run ``fn``; return its result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _fill(spark, sink):
    for lines, bd in zip(feed.batch_lines(), feed.BATCH_DATES):
        sink.append(land_ndjson_lines(spark, lines, bd, chunk_size=feed.CHUNK_SIZE))


def test_page_lands_as_local_relation(spark):
    """Chunked or not, the page runs no Python worker and no shuffle."""
    for chunk_size in (None, feed.CHUNK_SIZE):
        df = land_ndjson_lines(spark, feed.batch_lines()[1], feed.BATCH_DATES[1], chunk_size=chunk_size)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
        assert not any(op in plan for op in ("MapInPandas", "PythonMapInArrow", "Exchange")), plan


def test_append_runs_one_job_and_counts_what_it_wrote(spark, tmp_path):
    sink = ParquetSink(spark, str(tmp_path / "wh"))
    total = 0
    for lines, bd in zip(feed.batch_lines(), feed.BATCH_DATES):
        landed = land_ndjson_lines(spark, lines, bd, chunk_size=feed.CHUNK_SIZE)
        n, jobs = _jobs(spark, lambda: sink.append(landed, txn_id=str(bd)))
        assert jobs == 1, jobs
        total += n
    assert total == 4 + 8 + 2  # valid docs incl. chunk rows (see test_landing)
    assert sink.read().count() == total


def test_append_of_malformed_page_returns_zero(spark, tmp_path):
    """No row reaches the write, so the observed count is 0; it must still
    be delivered, or ``append`` would block forever on ``Observation.get``.
    Counting by reading the staged files back fails here: an empty write
    leaves no file to infer a schema from."""
    sink = ParquetSink(spark, str(tmp_path / "wh"))
    pages = [["{not json", "[]", '{"$TYPE": "AFE"}'], ["", "  "]]
    result = {}

    def run():
        result["n"] = [sink.append(land_ndjson_lines(spark, p, feed.BATCH_DATES[0])) for p in pages]

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "append hung on an empty write"
    assert result["n"] == [0, 0]


def test_scoped_prune_counts_removed_rows_without_reading_back(spark, tmp_path):
    """The scoped prune takes rows removed from the one aggregate that finds
    the dirty partitions. On this table the form that counted the scoped
    rows, then read the rewrite back and counted it, ran 13 jobs."""
    sink = ParquetSink(spark, str(tmp_path / "wh"))
    _fill(spark, sink)
    # a newer copy of the first page supersedes its rows
    later = feed.BATCH_DATES[-1] + timedelta(days=1)
    sink.append(land_ndjson_lines(spark, feed.batch_lines()[0], later, chunk_size=feed.CHUNK_SIZE))
    expected = superseded_rows(sink.read()).count()
    before = sink.read().count()

    removed, jobs = _jobs(spark, sink.prune)
    assert removed == expected == before - sink.read().count()
    assert jobs <= 8, jobs
    assert sink.prune() == 0


def test_views_build_without_schema_inference(spark, tmp_path, root_schema):
    sink = ParquetSink(spark, str(tmp_path / "wh"))
    _fill(spark, sink)
    views, jobs = _jobs(spark, lambda: sink.create_views(root_schema))
    assert jobs == 0
    assert views


def test_sync_once_logs_each_page(spark, tmp_path, caplog):
    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    feed.write_batches(feed_dir)
    sink = ParquetSink(spark, str(tmp_path / "wh"))
    state = WatermarkStore(str(tmp_path / "st"))
    caplog.set_level(logging.INFO, logger="execute_sync_spark.sources.sync")

    n, jobs = _jobs(spark, lambda: sync_once(spark, FileFeedSource(str(feed_dir)), sink, state))
    pages = [r.sync_page for r in caplog.records if hasattr(r, "sync_page")]
    assert [p["rows_appended"] for p in pages] == [4, 5, 2] and n == 11
    assert jobs <= len(pages), jobs
    marks = [p["watermark_after"] for p in pages]
    assert marks == ["batch_1.ndjson", "batch_2.ndjson", "batch_3.ndjson"]
    assert [p["watermark_before"] for p in pages[1:]] == marks[:-1]
    assert [p["txn_id"] for p in pages] == marks
    assert not any(p["absorbed"] for p in pages)
    assert all(p["land_ms"] > 0 and p["append_ms"] > 0 for p in pages)

    # crash before the last watermark save: the replay is absorbed, runs no
    # Spark job and says so
    caplog.clear()
    state.save("batch_2.ndjson")
    n, jobs = _jobs(spark, lambda: sync_once(spark, FileFeedSource(str(feed_dir)), sink, state))
    (record,) = [r for r in caplog.records if hasattr(r, "sync_page")]
    page = record.sync_page
    assert "replay absorbed True" in record.getMessage()
    assert (n, jobs) == (0, 0)
    assert page["absorbed"] and page["rows_appended"] == 0
    assert (page["watermark_before"], page["watermark_after"]) == ("batch_2.ndjson", "batch_3.ndjson")
