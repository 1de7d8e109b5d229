"""Synthesize an Nx-scale dataset from a driver-provided SF directory.

Round 2 validated 10x scaling with an ad-hoc in-session synthesis; this
commits that synthesis as a repeatable tool so superlinear regressions are
caught by the harness (``python bench.py --scale-full``), not by hand.

Fact tables (lineitem, orders, events, documents, embeddings) are unioned
``factor`` times with replica-shifted keys; join keys that cross tables
(l_orderkey <-> o_orderkey) shift by the same stride so replica joins stay
internally consistent. Dimension tables (region, nation, customer, supplier,
part) are copied as-is — dims grow far slower than facts in any real
deployment, and keeping them fixed preserves every fact->dim FK.

Notes on what this measures (see ROADMAP "10x scale validation"):
- documents/embeddings replicas duplicate every payload ``factor`` times, so
  true near-dup pair counts grow ~factor^2 — the dup-heavy-corpus stress
  case for the pair finders, BY DESIGN.
- all synthesis is pure DataFrame (crossJoin with a replica-index range +
  key shift), executed distributed; nothing is collected to the driver.

Usage:
    python tools/make_scale10.py [--src /root/testdata/sf0.1] \
        [--dst .scale10/sf1.0] [--factor 10]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DIM_TABLES = ["region", "nation", "customer", "supplier", "part"]

# fact table -> columns shifted by replica * stride (stride = max(key)+1 so
# replica key ranges never collide)
FACT_SHIFT_KEYS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

# (table, column) pairs that must share one stride so cross-table joins on
# the shifted key remain consistent between replicas
SHARED_STRIDES = {"o_orderkey": "orderkey", "l_orderkey": "orderkey"}

# Build-complete marker: written LAST by build(), so a partially-built or
# stale synthesis (testdata regenerates between harness rounds) is detected
# and rebuilt instead of silently producing meaningless ratio numbers.
MARKER = "_FINGERPRINT.json"


def fingerprint(spark: SparkSession, src_dir: str, factor: int) -> dict:
    """Identity of a synthesis: source dir + factor + per-source-table row
    counts (parquet-footer counts — no data scan)."""
    counts = {
        t: spark.read.parquet(os.path.join(src_dir, f"{t}.parquet")).count()
        for t in DIM_TABLES + list(FACT_SHIFT_KEYS)
    }
    return {"src_dir": os.path.abspath(src_dir), "factor": factor, "src_rows": counts}


def is_current(spark: SparkSession, src_dir: str, dst_dir: str, factor: int) -> bool:
    """True iff dst holds a COMPLETED synthesis of exactly this source."""
    import json

    path = os.path.join(dst_dir, MARKER)
    if not os.path.isfile(path):
        return False
    try:
        with open(path) as f:
            saved = json.load(f)
    except (OSError, ValueError):
        return False
    return saved == fingerprint(spark, src_dir, factor)


def _replicate(df: DataFrame, shift_cols: list[str], strides: dict[str, int], factor: int) -> DataFrame:
    replicas = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("__r")
    out = df.select("*", replicas)
    for c in shift_cols:
        out = out.withColumn(c, (F.col(c) + F.col("__r") * F.lit(strides[c])).cast("long"))
    return out.drop("__r")


def build(spark: SparkSession, src_dir: str, dst_dir: str, factor: int = 10) -> None:
    os.makedirs(dst_dir, exist_ok=True)

    # one stride per shared key family, from the max over every column in it
    strides: dict[str, int] = {}
    family_max: dict[str, int] = {}
    for table, cols in FACT_SHIFT_KEYS.items():
        df = spark.read.parquet(os.path.join(src_dir, f"{table}.parquet"))
        for c in cols:
            fam = SHARED_STRIDES.get(c, c)
            m = df.agg(F.max(c)).first()[0] or 0
            family_max[fam] = max(family_max.get(fam, 0), int(m))
    for table, cols in FACT_SHIFT_KEYS.items():
        for c in cols:
            strides[c] = family_max[SHARED_STRIDES.get(c, c)] + 1

    for table in DIM_TABLES:
        src = os.path.join(src_dir, f"{table}.parquet")
        spark.read.parquet(src).write.mode("overwrite").parquet(
            os.path.join(dst_dir, f"{table}.parquet")
        )

    for table, cols in FACT_SHIFT_KEYS.items():
        df = spark.read.parquet(os.path.join(src_dir, f"{table}.parquet"))
        _replicate(df, cols, strides, factor).write.mode("overwrite").parquet(
            os.path.join(dst_dir, f"{table}.parquet")
        )

    # marker written last: its presence certifies every table above landed
    import json

    with open(os.path.join(dst_dir, MARKER), "w") as f:
        json.dump(fingerprint(spark, src_dir, factor), f, indent=1)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale10", "sf1.0"))
    ap.add_argument("--factor", type=int, default=10)
    args = ap.parse_args()

    from execute_sync_spark.session import get_spark

    spark = get_spark("make_scale10")
    build(spark, args.src, args.dst, args.factor)
    for t in DIM_TABLES + list(FACT_SHIFT_KEYS):
        n = spark.read.parquet(os.path.join(args.dst, f"{t}.parquet")).count()
        print(f"{t}: {n}")


if __name__ == "__main__":
    main()
