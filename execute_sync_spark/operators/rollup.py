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

Commit-protocol constraint (ADVICE r6, interface r10): every commit
metadata operation — directory swaps, aside/staging dirs, the
``_absorbed.json`` manifest, freshness stats — goes through
``storage.STORE`` (see ``execute_sync_spark/storage.py`` for the exact
rename/listdir/freshness contract). The shipped ``LocalPosixStore``
requires a local (or POSIX-rename-capable, e.g. NFS/HDFS-mounted)
filesystem; an object-store deployment swaps in a store implementing
rename as a manifest-pointer swap or copy+delete-under-lease
(``storage.py`` documents both) via ``storage.set_store`` — the PARTITION
LAYOUT and idempotency reasoning here are store-agnostic. Bulk parquet
always goes through Spark, never the store.
"""

from __future__ import annotations

import json
import os
import uuid

from execute_sync_spark import storage

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST = "_absorbed.json"


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


class HourlyRollup:
    """Materialized hourly (event_type, hour) rollup maintained from
    batches, replay-idempotent per batch_id — including across compaction."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")

    def _absorbed(self, day: str) -> set[str]:
        """Batch ids already folded into this day's compacted partition."""
        p = os.path.join(self.path, f"day={day}", _MANIFEST)
        try:
            return set(json.loads(storage.STORE.read_text(p)).get("batches", []))
        except (OSError, ValueError):
            return set()

    # -- full build ---------------------------------------------------------

    def build(self, events: DataFrame) -> str:
        """Full (re)build — the bootstrap from a complete log, or the
        escape hatch if the rollup is ever suspected stale. Stages the
        rebuild beside the live table and commits via rename-aside →
        rename-in → delete-old: a crash before the first rename leaves the
        old table live; a crash in the (tiny) two-rename window leaves the
        old table intact under ``{path}_old_*`` for manual recovery —
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

    # -- incremental refresh ------------------------------------------------

    def refresh(self, new_batch: DataFrame, batch_id) -> list[str]:
        """Fold one batch into the rollup. Writes the batch's partial
        aggregates under (day, batch_id) with DYNAMIC partition overwrite:
        only the partitions this batch produces are replaced, every other
        partition keeps its physical files (inode-asserted in
        tests/test_rollup.py), and a REPLAY of the same batch_id rewrites
        its own partitions — or, if compaction already absorbed it, skips
        the day entirely (manifest check) — instead of double-counting
        (replay-asserted, incl. the compact-then-replay window).

        ``batch_id`` is the replay-stable identity and is REQUIRED —
        foreachBatch's epoch id is exactly right, and every caller has
        one. (A silently-generated random id would be correct for a batch
        that runs once but double-counts under any at-least-once replay —
        the exact failure this class exists to prevent — so None raises
        instead of defaulting unsafely; ADVICE r6.)
        Returns the list of days actually written."""
        if batch_id is None:
            raise ValueError(
                "refresh() requires a replay-stable batch_id (e.g. the "
                "foreachBatch epoch id); a generated id would double-count "
                "under at-least-once replay"
            )
        bid = str(batch_id)
        # a refresh that recreates a stranded day would make sweep() treat
        # the aside (the day's real history) as reclaimable debris — fail
        # loudly first (one listdir; see _check_not_stranded)
        self._check_not_stranded()
        deltas = _hourly(new_batch).withColumn("batch_id", F.lit(bid)).persist()
        try:
            touched = sorted(r.day for r in deltas.select("day").distinct().collect())
            # compact-then-replay: days whose compacted partition already
            # contains this batch id must not receive it again
            touched = [d for d in touched if bid not in self._absorbed(d)]
            if not touched:
                return []
            (
                deltas.filter(F.col("day").isin(touched))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("day", "batch_id")
                .parquet(self.path)
            )
        finally:
            deltas.unpersist()
        return touched

    # -- compaction ---------------------------------------------------------

    def compact(self) -> list[str]:
        """Collapse each day's accumulated batch partials into a single
        ``batch_id=__compacted__`` partition — bounds partial-file growth
        on long-lived rollups (the OPTIMIZE analog). Each swapped day dir
        carries an ``_absorbed.json`` manifest of every batch id folded in
        (previous manifest included), so replays of absorbed batches stay
        idempotent. Each day commits via a two-rename swap (live → aside,
        staged → live): a crash OUTSIDE that tiny window leaves the day
        fully old or fully new, both consistent; a crash INSIDE it leaves
        the day's data (and manifest) stranded in an ``_old_day_*`` aside
        dir that reads ignore — run :meth:`sweep` to restore or reclaim
        stranded asides (build()'s window has the same shape with
        ``{path}_old_*``, also swept)."""
        fs = storage.STORE
        if not fs.isdir(self.path):
            return []
        # only days holding UNCOMPACTED partials need work — periodic
        # compaction is O(days with new batches), not O(full table)
        days = sorted(
            d[len("day="):]
            for d in fs.listdir(self.path)
            if d.startswith("day=") and fs.isdir(os.path.join(self.path, d))
            and any(
                b.startswith("batch_id=") and b != "batch_id=__compacted__"
                for b in fs.listdir(os.path.join(self.path, d))
            )
        )
        if not days:
            return []
        merged = (
            self.read()
            .filter(F.col("day").cast("string").isin(days))
            .withColumn("batch_id", F.lit("__compacted__"))
            .select("event_type", "bucket_start", "n_events", "sum_value", "day", "batch_id")
        )
        tmp = f"{self.path}_compact_{os.getpid()}"
        merged.write.mode("overwrite").option(
            "partitionOverwriteMode", "static"
        ).partitionBy("day", "batch_id").parquet(tmp)
        for day in days:
            live = os.path.join(self.path, f"day={day}")
            absorbed = self._absorbed(day) | {
                b[len("batch_id="):]
                for b in fs.listdir(live)
                if b.startswith("batch_id=") and b != "batch_id=__compacted__"
            }
            src = os.path.join(tmp, f"day={day}")
            fs.write_text(
                os.path.join(src, _MANIFEST),
                json.dumps({"batches": sorted(absorbed)}),
            )
            # recoverable two-rename swap: aside dir is "_"-prefixed, so
            # Spark's reader ignores it if a crash strands it mid-window;
            # the day value stays intact in the name so sweep() can map a
            # stranded aside back to its partition
            aside = os.path.join(self.path, f"_old_day_{day}_{os.getpid()}")
            fs.rename(live, aside)
            fs.rename(src, live)
            fs.rmtree(aside)
        fs.rmtree(tmp)
        return days

    # -- crash recovery ------------------------------------------------------

    def _stranded(self) -> list[str]:
        """Aside dirs from an interrupted two-rename commit whose LIVE
        counterpart is missing — the states where a read would silently
        lose a day (or the whole table). Debris whose live dir exists
        (crash after both renames, before cleanup) is harmless to reads
        and NOT reported here; sweep() reclaims it."""
        fs = storage.STORE
        out: list[str] = []
        parent = os.path.dirname(self.path) or "."
        base = os.path.basename(self.path)
        if not fs.isdir(self.path):
            if fs.isdir(parent):
                out += [n for n in fs.listdir(parent) if n.startswith(base + "_old_")]
            return out
        for n in fs.listdir(self.path):
            if n.startswith("_old_day_"):
                day = n[len("_old_day_"):].rsplit("_", 1)[0]
                if not fs.isdir(os.path.join(self.path, f"day={day}")):
                    out.append(n)
        return out

    def _check_not_stranded(self) -> None:
        stranded = self._stranded()
        if stranded:
            raise RuntimeError(
                f"rollup at {self.path} has data stranded by an interrupted "
                f"commit ({stranded[:3]}{'...' if len(stranded) > 3 else ''}); "
                "run sweep() to restore or reclaim it before reading/refreshing"
            )

    def sweep(self, min_age_s: float = 0.0) -> dict[str, list[str]]:
        """Detect and resolve aside/tmp dirs stranded by a crash inside
        build()'s or compact()'s two-rename commit windows (ROADMAP /
        ADVICE r6: previously these needed manual recovery — a stranded
        ``_old_day_*`` aside silently removed its day from reads and
        could let an absorbed batch double-count on replay).

        Resolution rules, conservative in both directions:

        * table gone + ``{path}_old_*`` aside present (build's window):
          promote a COMPLETE staged rebuild (``{path}_<hex>`` carrying
          ``_SUCCESS``) forward if one exists, else restore the newest
          aside. Either way the table reappears.
        * day gone + ``_old_day_<day>_*`` aside present (compact's
          window): finish the swap forward from the staged
          ``{path}_compact_*`` output when it still holds the day (the
          staged dir includes the ``_absorbed.json`` manifest, so
          replay-idempotency survives), else roll the aside back.
        * everything else matching the aside/tmp patterns is obsolete
          debris (the crash happened after both renames, or a staged
          build never committed) and is reclaimed.

        ``min_age_s`` guards a MULTI-PROCESS deployment: another writer
        mid-swap has fresh asides, so sweep only touches dirs older than
        this. Returns {"restored": [...], "reclaimed": [...]} by name."""
        import time

        fs = storage.STORE
        restored: list[str] = []
        reclaimed: list[str] = []
        now = time.time()

        def _old_enough(p: str) -> bool:
            # unguarded (min_age_s<=0) sweeps must process every dir and
            # never stat; on a GUARDED sweep a transient stat failure skips
            # this round rather than reclaiming a possibly-fresh dir
            # (ADVICE r9, same rule as similarity's index sweep)
            if min_age_s <= 0:
                return True
            try:
                return now - fs.freshness(p) >= min_age_s
            except OSError:
                return False

        parent = os.path.dirname(self.path) or "."
        base = os.path.basename(self.path)
        asides: list[str] = []
        tmps_build: list[str] = []
        tmps_compact: list[str] = []
        for name in sorted(fs.listdir(parent)) if fs.isdir(parent) else []:
            p = os.path.join(parent, name)
            if not name.startswith(base + "_") or not fs.isdir(p) or not _old_enough(p):
                continue
            rest = name[len(base) + 1:]
            if rest.startswith("old_"):
                asides.append(p)
            elif rest.startswith("compact_"):
                tmps_compact.append(p)
            elif len(rest) == 8 and all(c in "0123456789abcdef" for c in rest):
                tmps_build.append(p)
        if not fs.isdir(self.path) and asides:
            complete = [t for t in tmps_build if fs.exists(os.path.join(t, "_SUCCESS"))]
            pick_from = complete or asides
            newest = max(pick_from, key=fs.mtime)
            fs.rename(newest, self.path)
            restored.append(os.path.basename(newest))
            (tmps_build if complete else asides).remove(newest)
        for p in asides + tmps_build:
            fs.rmtree(p)
            reclaimed.append(os.path.basename(p))

        if fs.isdir(self.path):
            for name in sorted(fs.listdir(self.path)):
                if not name.startswith("_old_day_"):
                    continue
                aside = os.path.join(self.path, name)
                if not fs.isdir(aside) or not _old_enough(aside):
                    continue
                day = name[len("_old_day_"):].rsplit("_", 1)[0]
                pid = name.rsplit("_", 1)[1]
                live = os.path.join(self.path, f"day={day}")
                if fs.isdir(live):
                    # both renames completed; only the aside cleanup crashed
                    fs.rmtree(aside)
                    reclaimed.append(name)
                    continue
                # Forward-finish ONLY from the staging dir of the SAME
                # compact run (pid in the aside name matches the tmp
                # suffix) AND only if that staged day already carries its
                # manifest (written just before the renames). Any other
                # compact tmp is a stale snapshot from an EARLIER crashed
                # run — restoring it would silently drop every batch
                # refreshed since, and its missing manifest would let
                # absorbed batches double-count on replay. Those tmps are
                # reclaimed below; the aside (the day's real current
                # data) rolls back instead.
                staged = os.path.join(f"{self.path}_compact_{pid}", f"day={day}")
                if (
                    fs.isdir(staged)
                    and fs.isfile(os.path.join(staged, _MANIFEST))
                ):
                    fs.rename(staged, live)  # finish forward, manifest included
                    fs.rmtree(aside)
                else:
                    fs.rename(aside, live)  # roll back to the pre-compact day
                restored.append(name)
        for t in tmps_compact:
            fs.rmtree(t)
            reclaimed.append(os.path.basename(t))
        return {"restored": restored, "reclaimed": reclaimed}

    # -- read ---------------------------------------------------------------

    def read(self) -> DataFrame:
        """The rollup: partials folded to one row per (type, hour). Day is
        a partition column, so day predicates prune to subtrees before the
        fold. A rollup that has never been written reads as EMPTY (a new
        stream whose first batches were all empty is a normal state, not
        an error) — but a rollup with data STRANDED by an interrupted
        commit raises, pointing at sweep(): silently reading around a
        vanished day is exactly the failure ADVICE r6 flagged."""
        self._check_not_stranded()
        if not storage.STORE.isdir(self.path):
            return self.spark.createDataFrame(
                [],
                "event_type string, bucket_start timestamp, day date, "
                "n_events long, sum_value double",
            )
        return (
            self.spark.read.parquet(self.path)
            .groupBy("event_type", "bucket_start", "day")
            .agg(
                F.sum("n_events").cast("long").alias("n_events"),
                F.sum("sum_value").alias("sum_value"),
            )
        )
