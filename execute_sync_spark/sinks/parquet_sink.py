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
from urllib.parse import unquote

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from execute_sync_spark.landing.schema import LANDING_COLUMNS, LANDING_SCHEMA
from execute_sync_spark.operators import dedup as dedup_ops
from execute_sync_spark.schema.model import RootSchema
from execute_sync_spark.sinks.base import register_views


class ParquetSink:
    """Parquet landing sink: a columnar, splittable, predicate-pushdown
    format Spark writes natively."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

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
        clustered.write.mode("overwrite").partitionBy("type").parquet(tmp)
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
            self.spark.read.schema(LANDING_SCHEMA).parquet(self.path)
            .select(*LANDING_COLUMNS)
        )

    def create_views(self, root: RootSchema) -> dict:
        """Register EXECUTE_DOCUMENTS[_LATEST[_ALL_VERSIONS]] + the forest."""
        return register_views(self.read(), root)

    def prune(self) -> int:
        """D3 compaction. The rewrite replaces only ``type=*`` partition
        directories, so the ``_txns/`` markers stay as they are."""
        return dedup_ops.prune_parquet(self.spark, self.path, schema=LANDING_SCHEMA)

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
            df = self.spark.read.parquet(part_dir)
            tmp = f"{part_dir.rstrip('/')}_compact_{uuid.uuid4().hex[:8]}"
            (
                df.coalesce(n_out)
                .sortWithinPartitions("id", "version")
                .write.mode("overwrite")
                .parquet(tmp)
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
            # Spark escapes the value in the directory name ('A:B' -> A%3AB)
            key = unquote(os.path.basename(part_dir).removeprefix("type="))
            results[key] = len(files) - moved
        return results
