"""Streaming ingest: the reference's poll loop (cmd_sync.go:56-75) expressed
as a Structured Streaming file source + foreachBatch.

Feed pages land in a directory (the spool the HTTP fetcher writes, or any
file drop); the stream discovers new files, lands each micro-batch through
the shared landing transform, and appends to the sink. The streaming
checkpoint replaces the watermark file: file-source offsets give
exactly-once *page processing*, and when the sink supports transactional
appends (ParquetSink txn markers; Delta ``txnAppId``) each micro-batch is
stamped with a replay-stable txn id so a crash AFTER the upload but BEFORE
the checkpoint commit — the reference's watermark-after-upload window,
cmd_sync.go:175-177 — replays as a no-op: exactly-once landing end-to-end.
Sinks without txn support degrade to at-least-once, absorbed by D1 dedup
(the reference's own contract).

``availableNow`` drains the backlog and stops (the ``push`` analog);
omit it for the continuous ``sync`` analog.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Optional

from pyspark.sql import SparkSession

from execute_sync_spark.landing.ingest import _land


def stream_sync(
    spark: SparkSession,
    feed_dir: str,
    sink,
    checkpoint_dir: str,
    chunk_size: Optional[int] = None,
    available_now: bool = True,
):
    """Run the streaming ingest; returns the number of batches processed."""
    import hashlib

    raw = (
        spark.readStream.format("text")
        .option("pathGlobFilter", "*.ndjson")
        # one page per micro-batch: keeps page==batch parity with the
        # reference (each page gets its own batch_date, and in-batch PK
        # dedup stays scoped to a single page)
        .option("maxFilesPerTrigger", 1)
        .load(feed_dir)
    )
    batches = {"n": 0}
    # txn id must be stable across crash replay (batch_id is — Spark reuses
    # the epoch on restart) and distinct across streams sharing a sink
    # (namespace on the checkpoint, the stream's identity)
    ns = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:8]

    def handle(batch_df, batch_id: int):
        landed = _land(batch_df, datetime.now(timezone.utc), chunk_size)
        sink.append(landed, txn_id=f"stream-{ns}-{batch_id}")
        batches["n"] += 1

    writer = (
        raw.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return batches["n"]
    return writer.start()
