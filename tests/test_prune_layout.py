"""Regression: prune must preserve the sink's partitioned layout — a flat
rewrite next to later partitioned appends silently loses rows on read."""

from execute_sync_spark.landing import land_ndjson_lines
from execute_sync_spark.sinks import ParquetSink
from tests.fixtures import feed


def test_prune_preserves_partitioning_and_appendability(spark, tmp_path):
    sink = ParquetSink(spark, str(tmp_path / "wh"))
    b = feed.batch_lines()
    for lines, bd in zip(b, feed.BATCH_DATES):
        sink.append(land_ndjson_lines(spark, lines, bd))
    before = sink.read().count()
    removed = sink.prune()
    assert removed == 1
    assert sink.read().count() == before - 1

    # append after prune: all rows must remain visible, types intact
    from datetime import timedelta

    n = sink.append(land_ndjson_lines(spark, b[0], feed.BATCH_DATES[2] + timedelta(days=1)))
    assert sink.read().count() == before - 1 + n
    types = {r.type for r in sink.read().select("type").distinct().collect()}
    assert {"AFE", "VENDOR", "TICKET", "WIDGET"} <= types


def test_prune_rewrites_only_dirty_partitions(spark, tmp_path):
    """Partition-scoped D3 (reference DELETE-parity, snowflake.go:87-94): the
    fixture feed's single superseded row lives in type=AFE, so prune must
    rewrite ONLY that partition — every other type partition keeps its exact
    physical files (same names, same mtimes/inodes)."""
    import os

    sink = ParquetSink(spark, str(tmp_path / "wh"))
    for lines, bd in zip(feed.batch_lines(), feed.BATCH_DATES):
        sink.append(land_ndjson_lines(spark, lines, bd))

    def part_files():
        out = {}
        for d in os.listdir(sink.path):
            if d.startswith("type="):
                pdir = os.path.join(sink.path, d)
                out[d] = {
                    f: os.stat(os.path.join(pdir, f)).st_ino
                    for f in os.listdir(pdir)
                    if not f.startswith(("_", "."))
                }
        return out

    before = part_files()
    rows_before = sink.read().count()
    assert sink.prune() == 1
    after = part_files()
    assert sink.read().count() == rows_before - 1

    clean = [p for p in before if p != "type=AFE"]
    assert clean, before
    for p in clean:
        assert after[p] == before[p], f"clean partition {p} was rewritten"
    assert after["type=AFE"] != before["type=AFE"]

    # second prune: nothing superseded -> zero rows removed, zero rewrites
    assert sink.prune() == 0
    assert part_files() == after


def test_materialized_latest_matches_lazy(spark, tmp_path):
    from execute_sync_spark.operators import latest

    sink = ParquetSink(spark, str(tmp_path / "wh"))
    for lines, bd in zip(feed.batch_lines(), feed.BATCH_DATES):
        sink.append(land_ndjson_lines(spark, lines, bd))
    sink.materialize_latest()
    snap = {tuple(r) for r in sink.read_latest().collect()}
    lazy = {tuple(r) for r in latest(sink.read()).collect()}
    assert snap == lazy
    # refresh after another batch keeps them in sync
    from datetime import timedelta

    sink.append(land_ndjson_lines(spark, feed.batch_lines()[0], feed.BATCH_DATES[2] + timedelta(days=2)))
    sink.materialize_latest()
    assert {tuple(r) for r in sink.read_latest().collect()} == {
        tuple(r) for r in latest(sink.read()).collect()
    }


def test_incremental_refresh_matches_full(spark, tmp_path):
    """refresh_latest touches only the types in new batches yet yields the
    same snapshot a full materialize would."""
    from datetime import timedelta

    from execute_sync_spark.operators import latest

    sink = ParquetSink(spark, str(tmp_path / "wh"))
    for lines, bd in zip(feed.batch_lines(), feed.BATCH_DATES):
        sink.append(land_ndjson_lines(spark, lines, bd))
    assert sink.refresh_latest() == ["*"]  # bootstrap = full materialize

    # no new batches -> no-op
    assert sink.refresh_latest() == []

    # a VENDOR-only batch refreshes only the VENDOR partition
    new_vendor = (
        '{"$TYPE": "VENDOR", "DOCUMENT_ID": "vnd-01", "$VERSION": 2, '
        '"$AUTHOR_ID": "u-1", "$DATE": "2026-03-06T00:00:00Z", "$DELETED": false, '
        '"VENDOR_NAME": "Acme Drilling Intl", "RATING": 5}'
    )
    sink.append(land_ndjson_lines(spark, [new_vendor], feed.BATCH_DATES[2] + timedelta(days=3)))
    assert sink.refresh_latest() == ["VENDOR"]
    snap = {tuple(r) for r in sink.read_latest().collect()}
    full = {tuple(r) for r in latest(sink.read()).collect()}
    assert snap == full
    # the new vendor version is visible
    v = [r for r in sink.read_latest().collect() if r.id == "vnd-01"]
    assert len(v) == 1 and v[0].version == 2


def test_compact_files_binpacks_partitions(spark, tmp_path):
    """Five small appends leave >= 5 files per type partition; compaction
    bin-packs each partition to the target size (1 file here) with content
    unchanged and the partitioned layout intact."""
    import os

    from execute_sync_spark.landing import land_ndjson_lines
    from execute_sync_spark.sinks.parquet_sink import ParquetSink
    from tests.fixtures import feed

    sink = ParquetSink(spark, str(tmp_path / "landing"))
    for i, (lines, bd) in enumerate(zip(feed.batch_lines(), feed.BATCH_DATES)):
        sink.append(land_ndjson_lines(spark, lines, bd), txn_id=f"b{i}")
    # duplicate appends to inflate file counts
    for i, (lines, bd) in enumerate(zip(feed.batch_lines(), feed.BATCH_DATES)):
        sink.append(land_ndjson_lines(spark, lines, bd), txn_id=f"c{i}")

    def files_per_part():
        out = {}
        for d in os.listdir(sink.path):
            if d.startswith("type="):
                out[d] = len([f for f in os.listdir(os.path.join(sink.path, d))
                              if not f.startswith(("_", "."))])
        return out

    before_rows = sorted(map(tuple, sink.read().collect()))
    before_files = files_per_part()
    assert any(n >= 2 for n in before_files.values()), before_files

    removed = sink.compact_files(target_mb=128)
    after_files = files_per_part()
    assert all(n == 1 for n in after_files.values()), after_files
    assert sum(removed.values()) == sum(before_files.values()) - len(after_files)
    assert sorted(map(tuple, sink.read().collect())) == before_rows
    # idempotent: nothing left to compact
    assert sink.compact_files(target_mb=128) == {}


def test_scoped_prune_survives_escaped_partition_values(spark, tmp_path):
    """A type value Spark must escape in the partition dir name (':' ->
    %3A) goes through the scoped rewrite without stranding the partition:
    the swap walks the tmp directory's ACTUAL listing instead of
    hand-formatting f"type={t}" from the raw value."""
    from datetime import datetime

    from execute_sync_spark.operators.dedup import prune_parquet

    d0, d1 = datetime(2026, 3, 1), datetime(2026, 3, 2)
    rows = [
        ("A:B", "x", 1, 0, d0, "old"),
        ("A:B", "x", 1, 0, d1, "new"),
        ("PLAIN", "y", 1, 0, d1, "keep"),
    ]
    df = spark.createDataFrame(
        rows, "type string, id string, version int, chunk int, batch_date timestamp, payload string"
    )
    path = str(tmp_path / "wh")
    df.write.partitionBy("type").parquet(path)

    removed = prune_parquet(spark, path)
    assert removed == 1
    out = spark.read.parquet(path)
    assert out.count() == 2
    kept = {(r.type, r.payload) for r in out.collect()}
    assert kept == {("A:B", "new"), ("PLAIN", "keep")}


def test_incremental_refresh_survives_escaped_partition_values(spark, tmp_path):
    """refresh_latest swaps the snapshot partition of a type Spark escapes in
    the directory name (':' -> %3A): a newer version of an ``A:B`` document
    must reach the snapshot, not only the refreshed-types list."""
    import json
    from datetime import datetime

    from execute_sync_spark.operators import latest

    def doc(version):
        return json.dumps({
            "$TYPE": "A:B", "DOCUMENT_ID": "x", "$VERSION": version, "$AUTHOR_ID": "u-1",
            "$DATE": "2026-03-01T00:00:00Z", "$DELETED": False,
        })

    sink = ParquetSink(spark, str(tmp_path / "wh"))
    sink.append(land_ndjson_lines(spark, [doc(1)], datetime(2026, 3, 1)))
    assert sink.refresh_latest() == ["*"]
    sink.append(land_ndjson_lines(spark, [doc(2)], datetime(2026, 3, 2)))
    assert sink.refresh_latest() == ["A:B"]
    snap = {(r.type, r.version) for r in sink.read_latest().collect()}
    assert snap == {(r.type, r.version) for r in latest(sink.read()).collect()}
    assert snap == {("A:B", 2)}
