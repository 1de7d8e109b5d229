"""SparkSession factory tuned for the test harness (local mode) while keeping
settings that transfer to a real cluster (AQE, shuffle partitions, Arrow).

On a 1000-executor cluster the same builder is used with ``master`` unset (so
spark-submit / cluster manager decides) and ``spark.sql.shuffle.partitions``
sized ~2-3x total cores; AQE coalescing makes the exact number forgiving.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# local[$SPARK_GRAFT_CPUS] in the harness; a real deployment passes master
# via spark-submit instead.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_MAX_DRIVER_MB = 48 * 1024
_JVM_MEMORY = re.compile(r"[1-9][0-9]*[kmgt]", re.IGNORECASE)


def driver_memory() -> str:
    """``spark.driver.memory``: ``$SPARK_DRIVER_MEMORY`` if set, else half
    of physical RAM capped at 48g. In local mode the driver JVM runs every
    task; a heap near the host's RAM lets it grow until the kernel kills
    it, where a smaller one collects garbage or spills. Raises ValueError
    on a malformed override."""
    raw = os.environ.get("SPARK_DRIVER_MEMORY")
    if raw is not None:
        if not _JVM_MEMORY.fullmatch(raw.strip()):
            raise ValueError(
                f"SPARK_DRIVER_MEMORY={raw!r}: expected a JVM memory size such as 3g or 512m"
            )
        return raw.strip()
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    return f"{min(_MAX_DRIVER_MB, phys_mb // 2)}m"


def get_spark(
    app_name: str = "execute_sync_spark",
    cpus: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """``extra_conf``: configs that must be set BEFORE the SparkContext
    exists (e.g. ``spark.scheduler.allocation.file`` for weighted FAIR
    pools — tools/conc_sched_experiment.py). No effect on an already-
    running session (getOrCreate reuses it), like every builder config."""
    cpus = cpus or _DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS), which the Spark reader
        # rejects; reading nanos as long (then truncating to micros in the
        # query) is the session-wide convention — see plans/workload._events.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # FAIR job scheduling so concurrent queries (bench throughput pass,
        # multi-tenant notebook use) share executor cores instead of queueing
        # FIFO behind the largest job
        .config("spark.scheduler.mode", "FAIR")
        # parse-once JSON reuse (SURVEY §4 P8): collapse repeated
        # get_json_object over the same column into a single parse.
        .config("spark.sql.optimizer.enableJsonExpressionOptimization", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Inferred parquet schemas, memoized per (abspath, mtime_ns, size).
# Schema inference costs a driver-side file listing + footer read on EVERY
# ``spark.read.parquet`` call — paid at query-construction time, per query,
# per bench pass. The schema of an unchanged file/dir is immutable metadata,
# so this is catalog caching (the same class of state as Spark's own
# filesourcePartitionFileCache, guide §6), NOT result caching: every query
# still computes from the parquet bytes, and any rewrite of the input
# (mtime/size change) invalidates the entry.
_PARQUET_SCHEMA_CACHE: dict[tuple, object] = {}


def _file_fingerprint(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (os.path.abspath(path), st.st_mtime_ns, st.st_size)


def read_parquet_cached(spark: SparkSession, path: str):
    """``spark.read.parquet(path)`` with the inferred schema memoized for
    unchanged inputs (see _PARQUET_SCHEMA_CACHE). Falls back to plain
    inference whenever the input cannot be fingerprinted."""
    key = _file_fingerprint(path)
    if key is None:
        return spark.read.parquet(path)
    schema = _PARQUET_SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _PARQUET_SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one of the driver-provided parquet tables."""
    return read_parquet_cached(spark, os.path.join(sf_dir, f"{name}.parquet"))
