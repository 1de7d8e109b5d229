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


def test_compact_files_keys_escaped_types_by_type_value(spark, tmp_path):
    """compact_files returns {type: files_removed} keyed by the type value,
    not by the directory name Spark escapes it to (':' -> %3A)."""
    import json
    from datetime import datetime

    doc = json.dumps({"$TYPE": "A:B", "DOCUMENT_ID": "x", "$VERSION": 1, "$AUTHOR_ID": "u-1",
                      "$DATE": "2026-03-01T00:00:00Z", "$DELETED": False})
    sink = ParquetSink(spark, str(tmp_path / "wh"))
    for day in (1, 2, 3):
        sink.append(land_ndjson_lines(spark, [doc], datetime(2026, 3, day)))
    assert sink.compact_files() == {"A:B": 2}


def test_prune_keeps_transaction_markers(spark, tmp_path):
    """prune rewrites only ``type=*`` partitions: a batch appended with a
    ``txn_id`` stays marked after its partition is rewritten, so a replay
    of it is still absorbed."""
    from datetime import timedelta

    sink = ParquetSink(spark, str(tmp_path / "wh"))
    b = feed.batch_lines()
    assert sink.append(land_ndjson_lines(spark, b[0], feed.BATCH_DATES[0]), txn_id="page-0") > 0
    # a superseding copy of the same documents in a later batch
    sink.append(land_ndjson_lines(spark, b[0], feed.BATCH_DATES[0] + timedelta(days=1)))
    assert sink.prune() > 0
    assert sink.txn_applied("page-0")
    assert sink.append(land_ndjson_lines(spark, b[0], feed.BATCH_DATES[0]), txn_id="page-0") == 0
