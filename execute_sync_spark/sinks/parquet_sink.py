"""Primary sink: an append-only parquet landing table on disk, partitioned by
document ``type`` so every per-type view prunes partitions at the scan.

(The natural production analog is Delta — same layout, plus ACID appends and
metadata-only DELETE for prune. delta-spark isn't available in this
environment, so the parquet layout implements the same semantics: appends are
new files, prune is a compacting rewrite.)

At 100 TB add a second partition level (date(batch_date)) and cluster files
by (id, version) so D1/D2 shuffles read locally-sorted input.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from execute_sync_spark.landing.schema import LANDING_COLUMNS, LANDING_SCHEMA
from execute_sync_spark.operators import dedup as dedup_ops
from execute_sync_spark.operators.views import create_views as compile_views
from execute_sync_spark.schema.model import RootSchema

TABLE_NAME = "EXECUTE_DOCUMENTS"


class ParquetSink:
    """Columnar-file landing sink; ``file_format`` may be "parquet"
    (default) or "orc" — both columnar, splittable, predicate-pushdown
    formats Spark writes natively."""

    def __init__(self, spark: SparkSession, path: str, file_format: str = "parquet"):
        self.spark = spark
        self.path = path
        self.file_format = file_format

    def append(self, landed: DataFrame, txn_id: str | None = None) -> int:
        """Append one batch. With ``txn_id`` the append is *effectively-once*:
        a marker file under ``_txns/`` records applied batches, so a retry of
        an already-marked batch is a no-op (the Delta analog is
        ``txnAppId``/``txnVersion`` on the writer, which closes this window
        transactionally).

        Delivery contract on plain parquet: the batch is staged to a temp dir
        by one write, then published into the table as per-file renames
        followed by the marker write. A crash inside that publish loop can
        leave a partially-visible batch that a retry re-appends — i.e.
        at-least-once within a narrow window; the D1/D2 dedup views absorb
        exact duplicate copies (same (type,id,version), newest batch wins),
        which is why the sync protocol remains correct.

        Returns the rows written, counted by an ``Observation`` on the
        written frame while the write runs: the batch's plan executes once,
        and nothing is read back.
        """
        import shutil
        import uuid

        if txn_id is not None and self.txn_applied(txn_id):
            return 0
        # cluster files by (id, version) so downstream dedup shuffles read
        # locally-sorted input (the parquet stand-in for Delta Z-ordering)
        rows = Observation()
        clustered = (
            landed.select(*LANDING_COLUMNS)
            .observe(rows, F.count(F.lit(1)).alias("n"))
            .sortWithinPartitions("id", "version")
        )
        tmp = f"{self.path.rstrip('/')}_stage_{uuid.uuid4().hex[:8]}"
        clustered.write.mode("overwrite").format(self.file_format).partitionBy("type").save(tmp)
        n = rows.get["n"]
        try:
            for root_dir, _, files in os.walk(tmp):
                rel = os.path.relpath(root_dir, tmp)
                dst_dir = self.path if rel == "." else os.path.join(self.path, rel)
                for fname in files:
                    if fname.startswith(("_", ".")):
                        continue
                    os.makedirs(dst_dir, exist_ok=True)
                    os.rename(
                        os.path.join(root_dir, fname),
                        os.path.join(dst_dir, f"{uuid.uuid4().hex[:8]}-{fname}"),
                    )
            if txn_id is not None:
                os.makedirs(os.path.dirname(self._txn_marker(txn_id)), exist_ok=True)
                with open(self._txn_marker(txn_id), "w") as f:
                    f.write(txn_id)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return n

    def txn_applied(self, txn_id: str) -> bool:
        """True when the batch ``txn_id`` is already in the table, so an
        ``append`` of it is absorbed as a replay."""
        return os.path.exists(self._txn_marker(txn_id))

    def _txn_marker(self, txn_id: str) -> str:
        import hashlib

        digest = hashlib.md5(txn_id.encode()).hexdigest()
        return os.path.join(self.path, "_txns", digest)

    def read(self) -> DataFrame:
        """The landing table, read with its declared schema (no inference
        job); ``type`` comes from the partition directories."""
        return (
            self.spark.read.schema(LANDING_SCHEMA).format(self.file_format).load(self.path)
            .select(*LANDING_COLUMNS)
        )

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            not f.startswith("_") for f in os.listdir(self.path)
        )

    def create_views(self, root: RootSchema) -> dict:
        """Register EXECUTE_DOCUMENTS[_LATEST[_ALL_VERSIONS]] + the forest."""
        raw = self.read()
        raw.createOrReplaceTempView(TABLE_NAME)
        d1 = dedup_ops.latest_all_versions(raw)
        d1.createOrReplaceTempView(f"{TABLE_NAME}_LATEST_ALL_VERSIONS")
        d2 = dedup_ops.latest(raw)
        d2.createOrReplaceTempView(f"{TABLE_NAME}_LATEST")
        return compile_views(d2, root, register=True)

    def materialize_latest(self) -> str:
        """P6's second idiom: alongside the query-time dedup views, write a
        materialized ``_LATEST`` snapshot table for read-heavy workloads —
        at 100 TB a full-log dedup per query is wasteful; readers hit the
        snapshot and only the refresh pays the dedup. Refresh here is a full
        recompute swap (Delta analog: MERGE INTO from new batches only).
        Returns the snapshot path."""
        import shutil
        import uuid

        snap = f"{self.path.rstrip('/')}_latest"
        tmp = f"{snap}_{uuid.uuid4().hex[:8]}"
        (
            dedup_ops.latest(self.read())
            .write.mode("overwrite")
            .format(self.file_format)
            .partitionBy("type")
            .save(tmp)
        )
        if os.path.isdir(snap):
            shutil.rmtree(snap)
        os.rename(tmp, snap)
        return snap

    def refresh_latest(self) -> list[str]:
        """Incremental snapshot refresh: recompute D2 only for document types
        touched by batches newer than the snapshot's high-water batch_date,
        and swap just those type partitions. Untouched partitions are not
        read or rewritten — at 100 TB a sync touching one doc type refreshes
        one partition subtree. Falls back to a full materialize when no
        snapshot exists. Returns the refreshed type list."""
        snap = f"{self.path.rstrip('/')}_latest"
        if not os.path.isdir(snap):
            self.materialize_latest()
            return ["*"]

        mark_row = self.spark.read.format(self.file_format).load(snap).agg(F.max("batch_date").alias("m")).first()
        mark = mark_row.m
        raw = self.read()
        touched = [
            r.type
            for r in raw.filter(F.col("batch_date") > F.lit(mark)).select("type").distinct().collect()
        ]
        if not touched:
            return []
        # D2 over only the touched types (partition-pruned scan), then swap
        # those partitions in the snapshot
        fresh = dedup_ops.latest(raw.filter(F.col("type").isin(touched)))
        tmp = f"{snap}_delta_{os.getpid()}"
        fresh.write.mode("overwrite").format(self.file_format).partitionBy("type").save(tmp)
        dedup_ops.swap_type_partitions(tmp, snap)
        return touched

    def read_latest(self) -> DataFrame:
        """Read the materialized snapshot (falls back to the lazy D2 view)."""
        snap = f"{self.path.rstrip('/')}_latest"
        if os.path.isdir(snap):
            return self.spark.read.format(self.file_format).load(snap).select(*LANDING_COLUMNS)
        return dedup_ops.latest(self.read())

    def prune(self) -> int:
        # preserve txn markers across the compacting rewrite
        import shutil
        import tempfile

        txn_dir = os.path.join(self.path, "_txns")
        saved = None
        if os.path.isdir(txn_dir):
            saved = tempfile.mkdtemp(prefix="txns_")
            shutil.copytree(txn_dir, saved, dirs_exist_ok=True)
        try:
            return dedup_ops.prune_parquet(
                self.spark,
                self.path,
                file_format=self.file_format,
                schema=LANDING_SCHEMA,
            )
        finally:
            if saved is not None:
                shutil.copytree(saved, txn_dir, dirs_exist_ok=True)
                shutil.rmtree(saved)

    def compact_files(self, target_mb: int = 128) -> dict[str, int]:
        """Small-file compaction (the Delta OPTIMIZE analog): incremental
        appends leave one-file-per-batch per partition, and at 100 TB a
        landing table fed every 10 minutes accretes thousands of tiny files
        per partition — scan parallelism degrades to file count and the
        namenode/listing cost dominates. Bin-pack each type partition into
        ceil(bytes / target_mb) files, re-clustered by (id, version) so
        dedup shuffles keep reading locally-sorted input.

        Partitions already at or below the target file count are untouched
        (no write amplification). Returns {type: files_removed}.
        """
        import glob
        import math
        import shutil
        import uuid

        results: dict[str, int] = {}
        for part_dir in sorted(glob.glob(os.path.join(self.path, "type=*"))):
            files = [
                f
                for f in os.listdir(part_dir)
                if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(part_dir, f))
            ]
            total = sum(os.path.getsize(os.path.join(part_dir, f)) for f in files)
            n_out = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
            if n_out >= len(files):
                continue
            df = self.spark.read.format(self.file_format).load(part_dir)
            tmp = f"{part_dir.rstrip('/')}_compact_{uuid.uuid4().hex[:8]}"
            (
                df.coalesce(n_out)
                .sortWithinPartitions("id", "version")
                .write.mode("overwrite")
                .format(self.file_format)
                .save(tmp)
            )
            for f in files:
                os.remove(os.path.join(part_dir, f))
            moved = 0
            for f in os.listdir(tmp):
                if f.startswith(("_", ".")):
                    continue
                os.rename(os.path.join(tmp, f), os.path.join(part_dir, f))
                moved += 1
            shutil.rmtree(tmp, ignore_errors=True)
            key = os.path.basename(part_dir).removeprefix("type=")
            results[key] = len(files) - moved
        return results
