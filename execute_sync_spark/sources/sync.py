"""The sync orchestration (SURVEY §3.1): fetch pages -> land -> sink ->
commit watermark. The driver loop is intentionally tiny: a page is already a
Python list on the driver, so the optional compat chunk-split runs there, per
line, before the upload (like the reference's client, snowflake.go:167-194);
everything else (parse, shred, dedup, write) is Spark work, one job per page.

Crash-consistency contract (cmd_sync.go:175-177): the watermark is persisted
only AFTER the sink append succeeds, so a crash between append and save
re-ingests the same page under a new batch_date — absorbed by D1 dedup.

Each page is reported as one INFO record on the ``execute_sync_spark.sources.sync``
logger; its ``sync_page`` attribute holds the fields as a dict. The record
is built from what the pass already knows, so it costs no Spark job.
"""

from __future__ import annotations

import logging
import time
from datetime import datetime, timezone
from typing import Optional

from pyspark.sql import SparkSession

from execute_sync_spark.landing.ingest import land_ndjson_lines
from execute_sync_spark.sources.execute_api import WatermarkStore

log = logging.getLogger(__name__)


def sync_once(
    spark: SparkSession,
    source,
    sink,
    state: WatermarkStore,
    force: bool = False,
    chunk_size: Optional[int] = None,
) -> int:
    """One fetch-and-process pass; returns documents landed."""
    mark = since = state.load(force=force)
    total = 0
    # sinks without transactional appends never absorb a replay
    txn_applied = getattr(sink, "txn_applied", None)
    for page in source.pages(since):
        # the highwater mark identifies the page -> idempotent append
        # (P10); a force refresh deliberately re-lands everything, so it
        # bypasses the txn guard (parity with the reference's append)
        txn_id = None if force else page.highwater_mark
        n, absorbed, land_ms, append_ms = 0, False, 0.0, 0.0
        if page.lines:
            absorbed = bool(txn_id and txn_applied and txn_applied(txn_id))
            t0 = time.perf_counter()
            landed = land_ndjson_lines(spark, page.lines, datetime.now(timezone.utc), chunk_size=chunk_size)
            t1 = time.perf_counter()
            n = sink.append(landed, txn_id=txn_id)
            land_ms, append_ms = (t1 - t0) * 1000, (time.perf_counter() - t1) * 1000
            total += n
        before = mark
        if page.highwater_mark:
            state.save(page.highwater_mark)
            mark = page.highwater_mark
        record = {
            "watermark_before": before, "watermark_after": mark, "txn_id": txn_id,
            "rows_appended": n, "absorbed": absorbed, "land_ms": land_ms, "append_ms": append_ms,
        }
        log.info(
            "sync page %(watermark_before)s -> %(watermark_after)s: %(rows_appended)d rows appended,"
            " replay absorbed %(absorbed)s (txn %(txn_id)s, land %(land_ms).0f ms, append %(append_ms).0f ms)",
            record, extra={"sync_page": record},
        )
    return total


def sync_loop(
    spark: SparkSession,
    source,
    sink,
    state: WatermarkStore,
    wait_seconds: int = 600,
    max_iterations: Optional[int] = None,
    chunk_size: Optional[int] = None,
) -> None:
    """The ``sync`` command loop (cmd_sync.go:56-75): pass, sleep, repeat."""
    i = 0
    while True:
        sync_once(spark, source, sink, state, chunk_size=chunk_size)
        i += 1
        if max_iterations is not None and i >= max_iterations:
            return
        time.sleep(wait_seconds)
