"""Dedup / versioning / compaction over the append-only landing log.

The reference expresses these as generated SQL views / DML (SURVEY §2.D):

  D1  *_LATEST_ALL_VERSIONS — newest landed copy of each (type,id,version)
      (tuple-IN against GROUP BY max(batch_date), snowflake.go:264-273)
  D2  *_LATEST — over D1, current version of each (type,id)
      (max(version) GROUP BY type,id, snowflake.go:278-287)
  D3  prune — physically delete superseded copies (snowflake.go:87-94)

One physical strategy, one full shuffle of the log, with the reference's
tie behavior: a map-side-combined groupBy().max() produces a small key set,
then a semi-join back. At 100 TB the agg output is ~doc-version cardinality
(small); AQE will usually broadcast it, so the big side shuffles at most
once — and not at all when the key set broadcasts.

It partitions by the dedup key, so a landing table bucketed/partitioned by
``type`` lets Catalyst prune to one document type before shuffling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

D1_KEYS = ["type", "id", "version"]
D2_KEYS = ["type", "id"]


def latest_all_versions(landing: DataFrame) -> DataFrame:
    """D1: keep the newest landed copy (max batch_date) of every version."""
    keys = (
        landing.groupBy(*D1_KEYS)
        .agg(F.max("batch_date").alias("batch_date"))
    )
    # re-project to the input column order (the semi-join moves keys first)
    return landing.join(keys, D1_KEYS + ["batch_date"], "left_semi").select(*landing.columns)


def latest(landing: DataFrame) -> DataFrame:
    """D2: over D1, keep rows carrying the max version per document.

    Soft-deleted documents remain visible (deleted=true) — parity with
    snowflake.go:326-327. All chunk rows of the winning version are kept so
    list-flatten views can union the slices.
    """
    d1 = latest_all_versions(landing)
    keys = d1.groupBy(*D2_KEYS).agg(F.max("version").alias("version"))
    return d1.join(keys, D2_KEYS + ["version"], "left_semi").select(*landing.columns)


def superseded_rows(landing: DataFrame) -> DataFrame:
    """D3 preview: the rows prune would delete — every row whose
    (type,id,version) has a newer batch_date copy (anti-join against D1)."""
    keys = landing.groupBy(*D1_KEYS).agg(F.max("batch_date").alias("batch_date"))
    return landing.join(keys, D1_KEYS + ["batch_date"], "left_anti").select(*landing.columns)


def swap_type_partitions(tmp: str, target: str) -> None:
    """Move every ``type=*`` partition directory a write to ``tmp`` produced
    into ``target``, replacing the directory of the same name, then drop
    ``tmp``. The names come from the tmp listing rather than from formatting
    f"type={t}" with raw values: Spark escapes special characters in
    partition values (``A:B`` -> ``type=A%3AB``), and a hand-formatted name
    would silently strand the rewritten partition."""
    import os
    import shutil

    for entry in os.listdir(tmp):
        src = os.path.join(tmp, entry)
        if not entry.startswith("type=") or not os.path.isdir(src):
            continue  # _SUCCESS and friends
        dst = os.path.join(target, entry)
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        os.rename(src, dst)
    shutil.rmtree(tmp, ignore_errors=True)


def prune_parquet(spark, path: str, file_format: str = "parquet", schema=None) -> int:
    """D3: compact a ``type``-partitioned landing directory to only-current
    copies.

    Parquet has no DELETE, so compaction is a rewrite — but a PARTITION-SCOPED
    one, matching the reference's targeted ``DELETE FROM ... WHERE``
    (snowflake.go:87-94, databricks.go:262-273) rather than a full-table
    rewrite: because the partition column ``type`` is a prefix of the D1 key
    (type,id,version), supersession never crosses partitions, so only
    partitions that actually CONTAIN superseded rows are read back and
    rewritten. At 100 TB a sync that re-landed one document type compacts one
    partition subtree; every clean partition keeps its physical files
    untouched (asserted by tests/test_prune_layout.py). (On Delta/Iceberg
    this becomes a metadata-only ``DELETE WHERE`` anti-join — same plan.)
    Returns the number of rows removed. ``schema``, when given, is the
    table's declared schema, so the read infers nothing.
    """
    import uuid

    reader = spark.read.format(file_format)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.load(path)

    # Which partitions hold superseded rows, and how many? One aggregate
    # answers both: its groups are the dirty partitions (a tiny list,
    # doc-type cardinality), and the rewrite keeps exactly the complement of
    # superseded_rows (semi- vs anti-join on the same key set), so the sum
    # of its counts is the rows removed.
    superseded = superseded_rows(df).groupBy("type").count().collect()
    if not superseded:
        return 0
    dirty = [r["type"] for r in superseded]
    kept = latest_all_versions(df.filter(F.col("type").isin(dirty)))
    tmp = f"{path.rstrip('/')}_pruned_{uuid.uuid4().hex[:8]}"
    kept.write.mode("overwrite").format(file_format).partitionBy("type").save(tmp)
    swap_type_partitions(tmp, path)
    return sum(r["count"] for r in superseded)
