"""Dedup / versioning / compaction over the append-only landing log.

The reference expresses these as generated SQL views / DML (SURVEY §2.D):

  D1  *_LATEST_ALL_VERSIONS — newest landed copy of each (type,id,version)
      (tuple-IN against GROUP BY max(batch_date), snowflake.go:264-273)
  D2  *_LATEST — over D1, current version of each (type,id)
      (max(version) GROUP BY type,id, snowflake.go:278-287)
  D3  prune — physically delete superseded copies (snowflake.go:87-94)

Two physical strategies, both one full shuffle of the log:

- ``mode="join"`` (default, exact reference parity incl. tie behavior):
  map-side-combined groupBy().max() produces a small key set, then an inner
  equi-join back. At 100 TB the agg output is ~doc-version cardinality (small);
  AQE will usually broadcast it, so the big side shuffles at most once — and
  not at all when the key set broadcasts.
- ``mode="window"``: row_number() over a window; picks exactly one row on
  batch_date ties. One shuffle+sort of the full log. Prefer when ties must
  collapse.

Both partition by the dedup key, so a landing table bucketed/partitioned by
``type`` lets Catalyst prune to one document type before shuffling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

D1_KEYS = ["type", "id", "version"]
D2_KEYS = ["type", "id"]


def latest_all_versions(landing: DataFrame, mode: str = "join") -> DataFrame:
    """D1: keep the newest landed copy (max batch_date) of every version."""
    if mode == "window":
        # Newest batch is per VERSION (type,id,version), not per chunk — a
        # re-land with fewer chunks supersedes all chunks of the older copy.
        # After filtering to the winning batch, row_number per chunk collapses
        # exact same-batch duplicates to one row (the tie behavior this mode
        # exists for). Both windows hash-partition on the same prefix, so
        # this is still a single exchange.
        wv = Window.partitionBy(*D1_KEYS)
        wc = Window.partitionBy(*D1_KEYS, "chunk").orderBy(F.desc("batch_date"))
        return (
            landing.withColumn("__maxb", F.max("batch_date").over(wv))
            .filter(F.col("batch_date") == F.col("__maxb"))
            .withColumn("__rn", F.row_number().over(wc))
            .filter(F.col("__rn") == 1)
            .drop("__maxb", "__rn")
        )
    keys = (
        landing.groupBy(*D1_KEYS)
        .agg(F.max("batch_date").alias("batch_date"))
    )
    # re-project to the input column order (the semi-join moves keys first)
    return landing.join(keys, D1_KEYS + ["batch_date"], "left_semi").select(*landing.columns)


def latest(landing: DataFrame, mode: str = "join") -> DataFrame:
    """D2: over D1, keep rows carrying the max version per document.

    Soft-deleted documents remain visible (deleted=true) — parity with
    snowflake.go:326-327. All chunk rows of the winning version are kept so
    list-flatten views can union the slices.
    """
    d1 = latest_all_versions(landing, mode=mode)
    if mode == "window":
        # The winner is max(version) per DOCUMENT, not per chunk: a current
        # version with fewer chunks must still supersede ALL chunks of older
        # versions (reference MAX(VERSION) GROUP BY TYPE,ID, snowflake.go
        # _LATEST view). An analytic max over (type,id) needs no extra
        # shuffle beyond the (type,id)-hash exchange the window already does.
        w = Window.partitionBy(*D2_KEYS)
        return (
            d1.withColumn("__maxv", F.max("version").over(w))
            .filter(F.col("version") == F.col("__maxv"))
            .drop("__maxv")
        )
    keys = d1.groupBy(*D2_KEYS).agg(F.max("version").alias("version"))
    return d1.join(keys, D2_KEYS + ["version"], "left_semi").select(*landing.columns)


def superseded_rows(landing: DataFrame) -> DataFrame:
    """D3 preview: the rows prune would delete — every row whose
    (type,id,version) has a newer batch_date copy (anti-join against D1)."""
    keys = landing.groupBy(*D1_KEYS).agg(F.max("batch_date").alias("batch_date"))
    return landing.join(keys, D1_KEYS + ["batch_date"], "left_anti").select(*landing.columns)


def prune_parquet(spark, path: str, mode: str = "join", partition_by: list[str] | None = None,
                  file_format: str = "parquet", schema=None) -> int:
    """D3: compact a parquet landing directory to only-current copies.

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
    Returns the number of rows removed.

    ``partition_by`` MUST match the table's layout (e.g. ["type"] for the
    landing sink) — rewriting a partitioned directory flat would leave later
    partitioned appends unreadable next to flat files. With
    ``partition_by=None`` (flat layout) the whole directory is one
    "partition" and the rewrite is necessarily full. ``schema``, when given,
    is the table's declared schema, so the read infers nothing.
    """
    import os
    import shutil
    import uuid

    reader = spark.read.format(file_format)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.load(path)

    if partition_by == ["type"] and mode == "join":
        # Scoped fast path for JOIN semantics only: the dirty-partition test
        # below is superseded_rows (an anti-join — join-mode semantics), so
        # under mode="window" a partition with same-batch tie duplicates but
        # no superseded rows would wrongly be skipped even though the window
        # mode exists precisely to collapse those ties; window mode therefore
        # always takes the full rewrite.
        #
        # Which partitions hold superseded rows, and how many? One
        # aggregate answers both: its groups are the dirty partitions (a
        # tiny list, doc-type cardinality), and the rewrite keeps exactly
        # the complement of superseded_rows (semi- vs anti-join on the same
        # key set), so the sum of its counts is the rows removed.
        superseded = superseded_rows(df).groupBy("type").count().collect()
        if not superseded:
            return 0
        dirty = [r["type"] for r in superseded]
        kept = latest_all_versions(df.filter(F.col("type").isin(dirty)), mode=mode)
        tmp = f"{path.rstrip('/')}_pruned_{uuid.uuid4().hex[:8]}"
        kept.write.mode("overwrite").format(file_format).partitionBy("type").save(tmp)
        # Swap in every partition dir the rewrite PRODUCED, taking the dir
        # names from the tmp listing rather than formatting f"type={t}" from
        # raw values — Spark escapes special characters in partition values,
        # and a hand-formatted name would silently strand the rewritten
        # partition while still reporting rows removed.
        for entry in os.listdir(tmp):
            src = os.path.join(tmp, entry)
            if not entry.startswith("type=") or not os.path.isdir(src):
                continue  # _SUCCESS and friends
            dst = os.path.join(path, entry)
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            os.rename(src, dst)
        shutil.rmtree(tmp, ignore_errors=True)
        return sum(r["count"] for r in superseded)

    before = df.count()
    kept = latest_all_versions(df, mode=mode)
    tmp = f"{path.rstrip('/')}_pruned_{uuid.uuid4().hex[:8]}"
    writer = kept.write.mode("overwrite").format(file_format)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(tmp)
    after = spark.read.format(file_format).load(tmp).count()
    shutil.rmtree(path)
    os.rename(tmp, path)
    return before - after
