"""Incremental continuous aggregate over an append-only event log — the
hypertable "continuous aggregate" / materialized-view-maintenance idiom,
made IDEMPOTENT under at-least-once batch replay.

Layout: ``{path}/day=D/batch_id=B/part-*.parquet`` holds PARTIAL hourly
aggregates — one (day, batch_id) partition per ingested batch. A refresh
writes the batch's partials with dynamic partition overwrite, so replaying
the same batch (a foreachBatch restart after a crash, the reference's
watermark-after-upload window) OVERWRITES its own partitions instead of
double-counting — the exactly-once contract falls out of the layout, with
no read-modify-write race. Compaction preserves the contract with a
per-day ``_absorbed.json`` manifest (underscore-prefixed ⇒ invisible to
the parquet reader, like ``_SUCCESS``): a replay of a batch that was
already folded into the compacted partition finds its id in the manifest
and skips that day. The event log is never re-read for a refresh; at
100 TB a late batch for an old day costs one small partition write,
regardless of log size.

``read()`` folds the partials (sum of sums/counts — associative, the rule
for any incrementally-maintained aggregate); ``compact()`` collapses a
day's accumulated batch partials into one, the OPTIMIZE analog for
long-lived rollups. (Contrast the D2 latest-version view, which is NOT
additive: keeping it fresh means re-reading the log.)

The rollup is a client of the one commit protocol,
``functions/index_commit.py``, with ``ROLLUP_SPEC`` (``day=`` leaves,
``_old_day_<day>_<pid>`` asides, ``{path}_compact_<pid>`` staging):
refresh, compact and the day-level half of sweep run there. What stays
here has no index counterpart: the partial aggregates, the full
``build()`` and its table-level two-rename window (``{path}_old_*``
asides, ``{path}_<8hex>`` staged rebuilds). Every commit metadata
operation goes through ``storage.STORE`` (see
``execute_sync_spark/storage.py`` for the rename/listdir/freshness
contract); bulk parquet always goes through Spark, never the store.
"""

from __future__ import annotations

import os
import time
import uuid

from execute_sync_spark import storage
from execute_sync_spark.functions import index_commit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _hourly(events: DataFrame) -> DataFrame:
    """Partial hourly aggregates of one event set (map-side combined).
    Rows with a NULL timestamp cannot be bucketed and are dropped — the
    same rule on the build and refresh paths, so a dirty log never makes
    the incremental path diverge from (or crash harder than) a rebuild."""
    return events.filter(F.col("ts").isNotNull()).groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("bucket_start"),
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("value").alias("sum_value"),
    ).withColumn("day", F.to_date("bucket_start").cast("string"))


def _fold(partials: DataFrame) -> DataFrame:
    """Partials folded to one row per (type, hour): the rollup's read and
    its compaction fold."""
    return partials.groupBy("event_type", "bucket_start", "day").agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("sum_value").alias("sum_value"),
    )


class HourlyRollup:
    """Materialized hourly (event_type, hour) rollup maintained from
    batches, replay-idempotent per batch_id — including across compaction."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")

    # -- full build ---------------------------------------------------------

    def build(self, events: DataFrame) -> str:
        """Full (re)build — the bootstrap from a complete log, or the
        escape hatch if the rollup is ever suspected stale. Stages the
        rebuild beside the live table and commits via rename-aside →
        rename-in → delete-old: a crash before the first rename leaves the
        old table live; a crash in the (tiny) two-rename window leaves the
        old table intact under ``{path}_old_*`` for :meth:`sweep` —
        never an unrecoverable delete-then-write gap. The write mode is
        pinned STATIC so a session-level dynamic-overwrite default can't
        leave stale batch partials alive under the new table."""
        tmp = f"{self.path}_{uuid.uuid4().hex[:8]}"
        (
            _hourly(events)
            .withColumn("batch_id", F.lit("__full__"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("day", "batch_id")
            .parquet(tmp)
        )
        fs = storage.STORE
        old_aside = f"{self.path}_old_{uuid.uuid4().hex[:8]}"
        had_live = fs.isdir(self.path)
        if had_live:
            fs.rename(self.path, old_aside)
        fs.rename(tmp, self.path)
        if had_live:
            fs.rmtree(old_aside)
        return self.path

    def _check_build_window(self) -> None:
        """A crash inside build()'s two renames leaves no table and the old
        one under ``{path}_old_*``. A read would see an empty rollup, and a
        refresh would recreate the table so that a later sweep reclaims
        the aside holding its history — fail loudly first."""
        fs = storage.STORE
        parent = os.path.dirname(self.path) or "."
        if fs.isdir(self.path) or not fs.isdir(parent):
            return
        base = os.path.basename(self.path)
        stranded = [n for n in fs.listdir(parent) if n.startswith(base + "_old_")]
        if stranded:
            raise RuntimeError(
                f"rollup at {self.path} is stranded by an interrupted build "
                f"({stranded[:3]}{'...' if len(stranded) > 3 else ''}); run "
                "sweep() to restore it before reading/refreshing"
            )

    # -- incremental refresh and compaction -----------------------------------

    def refresh(self, new_batch: DataFrame, batch_id) -> list[str]:
        """Fold one batch into the rollup (``index_commit.append``). Writes
        the batch's partial aggregates under (day, batch_id) with DYNAMIC
        partition overwrite: only the partitions this batch produces are
        replaced, every other partition keeps its physical files
        (inode-asserted in tests/test_rollup.py), and a REPLAY of the same
        batch_id rewrites its own partitions — or, for a day whose
        compacted partition already absorbed it, skips that day — instead
        of double-counting.

        ``batch_id`` is the replay-stable identity and is REQUIRED —
        foreachBatch's epoch id is exactly right, and every caller has
        one. (A silently-generated random id would double-count under any
        at-least-once replay, the exact failure this class exists to
        prevent; ADVICE r6.) Returns the list of days actually written."""
        self._check_build_window()
        touched = index_commit.append(
            _hourly(new_batch), self.path, index_commit.ROLLUP_SPEC, batch_id
        )
        return [day for (day,) in touched]

    def compact(self) -> list[str]:
        """Collapse each day's accumulated batch partials into a single
        ``batch_id=__compacted__`` partition of folded partials
        (``index_commit.compact``) — bounds partial-file growth on
        long-lived rollups (the OPTIMIZE analog); O(days with new
        batches). Each swapped day carries an ``_absorbed.json`` manifest
        of every batch id folded in, so replays of absorbed batches stay
        idempotent; a crash inside a day's two-rename swap strands it in
        an ``_old_day_*`` aside that reads refuse until :meth:`sweep`.
        Returns the compacted days."""
        self._check_build_window()
        done = index_commit.compact(
            self.spark, self.path, index_commit.ROLLUP_SPEC, fold=_fold
        )
        return [day for (day,) in done]

    # -- crash recovery ------------------------------------------------------

    def sweep(self, min_age_s: float = 0.0) -> dict[str, list[str]]:
        """Resolve dirs stranded by a crash inside build()'s or compact()'s
        two-rename windows (ADVICE r6: previously these needed manual
        recovery). Resolution rules, conservative in both directions:

        * table gone + ``{path}_old_*`` aside present (build's window):
          promote a COMPLETE staged rebuild (``{path}_<hex>`` carrying
          ``_SUCCESS``) forward if one exists, else restore the newest
          aside. Either way the table reappears; every other build aside
          and staged rebuild is obsolete debris and is reclaimed.
        * compact's window (``_old_day_*`` asides, ``{path}_compact_*``
          staging) is ``index_commit.sweep``'s: forward-finish from the
          same run's staged day, roll back, or merge by coverage.

        ``min_age_s`` guards a MULTI-PROCESS deployment: another writer
        mid-swap has fresh asides, so sweep only touches dirs older than
        this. Returns {"restored": [...], "reclaimed": [...]} by name."""
        fs = storage.STORE
        restored: list[str] = []
        reclaimed: list[str] = []
        now = time.time()
        parent = os.path.dirname(self.path) or "."
        base = os.path.basename(self.path)
        asides: list[str] = []
        builds: list[str] = []
        for name in sorted(fs.listdir(parent)) if fs.isdir(parent) else []:
            if not name.startswith(base + "_"):
                continue
            p = os.path.join(parent, name)
            rest = name[len(base) + 1:]
            is_build = len(rest) == 8 and all(c in "0123456789abcdef" for c in rest)
            if (
                (is_build or rest.startswith("old_"))
                and fs.isdir(p)
                and index_commit.old_enough(p, min_age_s, now)
            ):
                (builds if is_build else asides).append(p)
        if not fs.isdir(self.path) and asides:
            complete = [t for t in builds if fs.exists(os.path.join(t, "_SUCCESS"))]
            newest = max(complete or asides, key=fs.mtime)
            fs.rename(newest, self.path)
            restored.append(os.path.basename(newest))
            (builds if complete else asides).remove(newest)
        for p in asides + builds:
            fs.rmtree(p)
            reclaimed.append(os.path.basename(p))
        days = index_commit.sweep(self.path, index_commit.ROLLUP_SPEC, min_age_s)
        return {
            "restored": restored + days["restored"],
            "reclaimed": reclaimed + days["reclaimed"],
        }

    # -- read ---------------------------------------------------------------

    def read(self) -> DataFrame:
        """The rollup: partials folded to one row per (type, hour). Day is
        a partition column, so day predicates prune to subtrees before the
        fold. A rollup that has never been written reads as EMPTY (a new
        stream whose first batches were all empty is a normal state, not
        an error) — but a rollup with data STRANDED by an interrupted
        commit raises, pointing at sweep(): silently reading around a
        vanished day is exactly the failure ADVICE r6 flagged."""
        self._check_build_window()
        if not storage.STORE.isdir(self.path):
            return self.spark.createDataFrame(
                [],
                "event_type string, bucket_start timestamp, day date, "
                "n_events long, sum_value double",
            )
        index_commit.check_not_stranded(self.path, index_commit.ROLLUP_SPEC)
        return _fold(self.spark.read.parquet(self.path))
