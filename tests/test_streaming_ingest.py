"""Streaming ingest (file stream + foreachBatch) and idempotent txn appends."""

import json
import os

from pyspark.sql import functions as F

from execute_sync_spark.landing import land_ndjson_lines
from execute_sync_spark.sinks import ParquetSink
from execute_sync_spark.streaming import stream_sync
from tests.fixtures import feed


def test_stream_sync_discovers_and_checkpoints(spark, tmp_path):
    feed_dir = tmp_path / "spool"
    feed_dir.mkdir()
    feed.write_batches(feed_dir)
    sink = ParquetSink(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    stream_sync(spark, str(feed_dir), sink, ckpt)
    total = sink.read().count()
    assert total == 11  # 4 + 5 + 2 valid docs (no compat chunking here)

    # a new page arrives; availableNow re-run processes ONLY the new file
    extra = {"$TYPE": "VENDOR", "DOCUMENT_ID": "vnd-09", "$VERSION": 1,
             "$AUTHOR_ID": "u-1", "$DATE": "2026-03-05T00:00:00Z", "$DELETED": False,
             "VENDOR_NAME": "Delta Works", "RATING": 2}
    with open(os.path.join(str(feed_dir), "batch_4.ndjson"), "w") as f:
        f.write(json.dumps(extra) + "\n")
    stream_sync(spark, str(feed_dir), sink, ckpt)
    assert sink.read().count() == total + 1
    # re-run with nothing new: checkpoint prevents reprocessing
    stream_sync(spark, str(feed_dir), sink, ckpt)
    assert sink.read().count() == total + 1


def test_stream_sync_splits_oversized_lists(spark, tmp_path):
    """A stream splits its lines in one ``mapInPandas`` over each micro-batch
    and lands the same rows a sync page does."""
    feed_dir = tmp_path / "spool"
    feed_dir.mkdir()
    feed.write_batches(feed_dir)
    sink = ParquetSink(spark, str(tmp_path / "wh"))

    stream_sync(spark, str(feed_dir), sink, str(tmp_path / "ckpt"), chunk_size=feed.CHUNK_SIZE)
    landed = sink.read()
    assert landed.count() == 4 + 8 + 2  # tkt-0001's 25 LINES -> chunk 0 + 3 chunk rows
    tkt = landed.filter(F.col("id") == "tkt-0001").orderBy("chunk").collect()
    assert [r.chunk for r in tkt] == [0, 1, 2, 3]
    assert [len(json.loads(r.data)["LINES"]) for r in tkt[1:]] == [10, 10, 5]


def test_txn_append_idempotent(spark, tmp_path):
    sink = ParquetSink(spark, str(tmp_path / "wh_txn"))
    landed = land_ndjson_lines(spark, feed.batch_lines()[0], feed.BATCH_DATES[0])
    n = sink.append(landed, txn_id="page-1")
    assert n == 4
    # same txn re-applied (crash between append and watermark save) -> no-op
    assert sink.append(landed, txn_id="page-1") == 0
    assert sink.read().count() == 4
    # a different txn id appends normally
    assert sink.append(landed, txn_id="page-2") == 4
    # txn markers survive prune
    sink.prune()
    assert sink.append(landed, txn_id="page-1") == 0


def test_sync_once_crash_replay_exactly_once(spark, tmp_path):
    """Watermark lost after upload -> the page is re-fetched; the txn guard
    makes the re-append a no-op (stronger than the reference's append+dedup)."""
    from execute_sync_spark.sources import FileFeedSource, WatermarkStore, sync_once

    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    feed.write_batches(feed_dir)
    sink = ParquetSink(spark, str(tmp_path / "wh2"))
    state = WatermarkStore(str(tmp_path / "st"))
    n1 = sync_once(spark, FileFeedSource(str(feed_dir)), sink, state)
    # simulate crash before watermark save: reset the cursor, re-sync
    state.save("1900-01-01T00:00:00Z")
    # FileFeedSource with the reset cursor replays everything; txn markers
    # absorb all three pages
    assert sync_once(spark, FileFeedSource(str(feed_dir)), sink, state) == 0
    assert sink.read().count() == n1


def test_stage_stream_dir_handles_directory_sources(spark, tmp_path):
    """Streaming queries must see the SAME rows whether the source is a
    single parquet file (testdata) or a Spark-written directory of
    part-files (the 10x synthesis). Symlinking a directory into the stream
    dir makes the non-recursive file-stream listing silently process an
    EMPTY stream — caught in round 5 when every stream_* 10x timing
    collapsed to ~0.2 s."""
    import os

    from execute_sync_spark.streaming.util import stage_stream_dir

    src_file = "/root/testdata/sf0.001/events.parquet"
    n_expected = spark.read.parquet(src_file).count()

    # Spark-written directory form of the same data, multiple part-files
    src_dir = str(tmp_path / "events.parquet")
    spark.read.parquet(src_file).repartition(3).write.parquet(src_dir)

    for src in (src_file, src_dir):
        staged = stage_stream_dir(src, prefix="t_stage_")
        got = spark.read.parquet(staged).count()
        assert got == n_expected, (src, got, n_expected)

    # replicas: the dedup double-replay shape
    staged2 = stage_stream_dir(src_dir, prefix="t_stage2_", replicas=2)
    assert spark.read.parquet(staged2).count() == 2 * n_expected

    # directory with no data files is an explicit error, not an empty stream
    empty = tmp_path / "empty.parquet"
    empty.mkdir()
    (empty / "_SUCCESS").touch()
    import pytest

    with pytest.raises(ValueError, match="no data files"):
        stage_stream_dir(str(empty))


def test_stream_sync_kill_mid_stream_replay_lands_once(spark, tmp_path):
    """Exactly-once under the reference's watermark-after-upload crash window
    (cmd_sync.go:175-177): kill the stream AFTER a micro-batch's upload but
    BEFORE its checkpoint commits, restart, and assert the replayed page
    lands exactly once. The replay-stable per-batch txn id (stream_sync)
    makes the re-append a durable no-op — without it the restart would
    append page 2's rows twice (at-least-once)."""
    import pytest

    feed_dir = tmp_path / "spool_crash"
    feed_dir.mkdir()
    feed.write_batches(feed_dir)
    real = ParquetSink(spark, str(tmp_path / "wh_crash"))

    class KillAfterUpload:
        """Delegates to the real sink, then dies on the SECOND batch —
        after the parquet append succeeded, before foreachBatch returns
        (so the file-source offset for that batch never commits)."""

        def __init__(self):
            self.calls = 0
            self.armed = True

        def append(self, df, txn_id=None):
            n = real.append(df, txn_id=txn_id)
            self.calls += 1
            if self.armed and self.calls == 2:
                raise RuntimeError("simulated crash after upload, before checkpoint commit")
            return n

    sink = KillAfterUpload()
    ckpt = str(tmp_path / "ckpt_crash")
    with pytest.raises(Exception, match="simulated crash|Query .* terminated"):
        stream_sync(spark, str(feed_dir), sink, ckpt)

    # batch 0 committed; batch 1 uploaded but uncommitted -> restart must
    # re-offer it (same batch_id), and the txn marker absorbs the re-append
    sink.armed = False
    stream_sync(spark, str(feed_dir), sink, ckpt)
    assert sink.calls >= 4  # batch 1 was genuinely re-offered after restart

    landed = real.read()
    assert landed.count() == 11  # 4 + 5 + 2 valid docs, page 2 NOT doubled
    # no (type, id, version, chunk) appears more times than in a clean run:
    # the only legitimate cross-page duplicate in the fixture is afe-0001 v2
    # (batches 1 and 2 both carry it)
    dupes = (
        landed.groupBy("type", "id", "version", "chunk")
        .count()
        .filter(F.col("count") > 1)
        .collect()
    )
    assert [(r.type, r.id, int(r.version), r["count"]) for r in dupes] == [
        ("AFE", "afe-0001", 2, 2)
    ]
