"""Incremental continuous aggregate (operators/rollup.py): per-batch
partial aggregates equal a full recompute, untouched day partitions keep
their physical files, and replaying a batch_id never double-counts."""

import glob
import os

from pyspark.sql import functions as F


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _snapshot_files(path):
    return {
        f: os.stat(f).st_ino
        for f in glob.glob(os.path.join(path, "day=*", "batch_id=*", "*.parquet"))
    }


def _rows(r):
    return {
        (x.event_type, str(x.bucket_start), str(x.day)): (x.n_events, x.sum_value)
        for x in r.read().collect()
    }


def test_refresh_equals_full_rebuild(spark, tmp_path):
    from execute_sync_spark.operators.rollup import HourlyRollup

    batch1 = [
        (1, "2024-01-01 00:10:00", 1, "click", 2.0),
        (2, "2024-01-01 00:40:00", 2, "click", 3.0),
        (3, "2024-01-02 05:00:00", 1, "view", 1.0),
    ]
    # batch 2: new day 03 AND late data for day 01 hour 00
    batch2 = [
        (4, "2024-01-03 09:00:00", 3, "click", 7.0),
        (5, "2024-01-01 00:55:00", 4, "click", 10.0),
    ]
    r = HourlyRollup(spark, str(tmp_path / "rollup"))
    assert r.refresh(_events(spark, batch1), batch_id=1) == ["2024-01-01", "2024-01-02"]
    assert r.refresh(_events(spark, batch2), batch_id=2) == ["2024-01-01", "2024-01-03"]

    full = HourlyRollup(spark, str(tmp_path / "full"))
    full.build(_events(spark, batch1 + batch2))
    assert _rows(r) == _rows(full)
    # the late day-01 rows merged additively: 3 events, 2+3+10
    assert _rows(r)[("click", "2024-01-01 00:00:00", "2024-01-01")] == (3, 15.0)


def test_refresh_replay_is_idempotent(spark, tmp_path):
    """At-least-once delivery: re-running the SAME batch_id (a foreachBatch
    restart after a crash mid-commit) overwrites its own partitions instead
    of double-counting."""
    from execute_sync_spark.operators.rollup import HourlyRollup

    r = HourlyRollup(spark, str(tmp_path / "rollup"))
    b1 = [(1, "2024-01-01 00:10:00", 1, "click", 2.0)]
    b2 = [(2, "2024-01-01 00:30:00", 2, "click", 3.0)]
    r.refresh(_events(spark, b1), batch_id=1)
    r.refresh(_events(spark, b2), batch_id=2)
    before = _rows(r)
    # crash/replay: batch 2 delivered again
    r.refresh(_events(spark, b2), batch_id=2)
    assert _rows(r) == before
    assert before[("click", "2024-01-01 00:00:00", "2024-01-01")] == (2, 5.0)


def test_refresh_leaves_untouched_partitions_in_place(spark, tmp_path):
    from execute_sync_spark.operators.rollup import HourlyRollup

    r = HourlyRollup(spark, str(tmp_path / "rollup"))
    r.refresh(
        _events(
            spark,
            [
                (1, "2024-01-01 00:10:00", 1, "click", 2.0),
                (2, "2024-01-02 03:00:00", 2, "view", 5.0),
            ],
        ),
        batch_id=1,
    )
    before = _snapshot_files(str(tmp_path / "rollup"))
    day1_files = {f: i for f, i in before.items() if "day=2024-01-01" in f}
    assert day1_files

    touched = r.refresh(
        _events(spark, [(3, "2024-01-02 04:00:00", 3, "view", 1.0)]), batch_id=2
    )
    assert touched == ["2024-01-02"]
    after = _snapshot_files(str(tmp_path / "rollup"))
    # day-01's files are bit-for-bit the same inodes — never read or written
    for f, ino in day1_files.items():
        assert after.get(f) == ino
    # day-02 gained batch 2's partial partition alongside batch 1's
    assert any("day=2024-01-02/batch_id=2" in f for f in after)


def test_compact_collapses_partials_and_preserves_totals(spark, tmp_path):
    from execute_sync_spark.operators.rollup import HourlyRollup

    r = HourlyRollup(spark, str(tmp_path / "rollup"))
    r.refresh(_events(spark, [(1, "2024-01-01 00:10:00", 1, "click", 2.0)]), batch_id=1)
    r.refresh(_events(spark, [(2, "2024-01-01 00:20:00", 2, "click", 3.0)]), batch_id=2)
    before = _rows(r)
    days = r.compact()
    assert days == ["2024-01-01"]
    assert _rows(r) == before
    files = _snapshot_files(str(tmp_path / "rollup"))
    assert files and all("batch_id=__compacted__" in f for f in files)


def test_empty_batch_noops(spark, tmp_path):
    from execute_sync_spark.operators.rollup import HourlyRollup

    r = HourlyRollup(spark, str(tmp_path / "rollup"))
    r.refresh(_events(spark, [(1, "2024-01-01 00:10:00", 1, "click", 2.0)]), batch_id=1)
    before = _snapshot_files(str(tmp_path / "rollup"))
    assert r.refresh(_events(spark, []).limit(0), batch_id=2) == []
    assert _snapshot_files(str(tmp_path / "rollup")) == before


def test_rollup_maintained_from_a_stream(spark, tmp_path):
    """Continuous-aggregate maintenance under Structured Streaming: a file
    stream of event batches drives HourlyRollup.refresh from foreachBatch
    (epoch id = the replay-stable batch identity), and the maintained
    rollup equals a full rebuild over everything that streamed through."""
    from execute_sync_spark.operators.rollup import HourlyRollup

    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    b1 = _events(spark, [(1, "2024-01-01 00:10:00", 1, "click", 2.0)])
    b2 = _events(
        spark,
        [
            (2, "2024-01-01 00:30:00", 2, "click", 3.0),  # late for day 1
            (3, "2024-01-02 07:00:00", 1, "view", 4.0),
        ],
    )
    b1.coalesce(1).write.parquet(os.path.join(src, "f1"))
    b2.coalesce(1).write.parquet(os.path.join(src, "f2"))
    # flatten part-files so maxFilesPerTrigger sees two files
    files = []
    for d in ("f1", "f2"):
        for f in os.listdir(os.path.join(src, d)):
            if f.endswith(".parquet"):
                dst = os.path.join(src, f"{d}.parquet")
                os.rename(os.path.join(src, d, f), dst)
                files.append(dst)
    schema = spark.read.parquet(files[0]).schema

    r = HourlyRollup(spark, str(tmp_path / "rollup"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*.parquet")
    )
    q = (
        stream.writeStream.foreachBatch(lambda df, epoch: r.refresh(df, batch_id=epoch))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    full = HourlyRollup(spark, str(tmp_path / "full"))
    full.build(b1.unionByName(b2))
    assert _rows(r) == _rows(full)
    assert _rows(r)[("click", "2024-01-01 00:00:00", "2024-01-01")] == (2, 5.0)


def test_compact_then_replay_stays_idempotent(spark, tmp_path):
    """The compaction crash window: a batch folded into __compacted__ and
    then replayed (foreachBatch restart whose checkpoint never committed)
    must find itself in the day manifest and skip — totals unchanged."""
    from execute_sync_spark.operators.rollup import HourlyRollup

    r = HourlyRollup(spark, str(tmp_path / "rollup"))
    b2 = [(2, "2024-01-01 00:30:00", 2, "click", 3.0)]
    r.refresh(_events(spark, [(1, "2024-01-01 00:10:00", 1, "click", 2.0)]), batch_id=1)
    r.refresh(_events(spark, b2), batch_id=2)
    r.compact()
    before = _rows(r)
    assert r.refresh(_events(spark, b2), batch_id=2) == []  # absorbed -> skip
    assert _rows(r) == before
    assert before[("click", "2024-01-01 00:00:00", "2024-01-01")] == (2, 5.0)
    # a genuinely NEW batch for the same day still lands
    r.refresh(_events(spark, [(3, "2024-01-01 00:45:00", 3, "click", 1.0)]), batch_id=3)
    assert _rows(r)[("click", "2024-01-01 00:00:00", "2024-01-01")] == (3, 6.0)


def test_build_pins_static_overwrite_under_dynamic_session_default(spark, tmp_path):
    """A session-level dynamic-overwrite default must not let build() leave
    stale batch partials alive under the rebuilt table."""
    from execute_sync_spark.operators.rollup import HourlyRollup

    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        r = HourlyRollup(spark, str(tmp_path / "rollup"))
        full = [(1, "2024-01-01 00:10:00", 1, "click", 2.0),
                (2, "2024-01-01 00:30:00", 2, "click", 3.0)]
        r.refresh(_events(spark, full[:1]), batch_id=1)
        r.build(_events(spark, full))
        # without the static pin + swap, batch_id=1's partial would survive
        # and this would read (3, 7.0)
        assert _rows(r)[("click", "2024-01-01 00:00:00", "2024-01-01")] == (2, 5.0)
    finally:
        spark.conf.set(key, old)


def test_read_and_compact_on_never_written_rollup(spark, tmp_path):
    from execute_sync_spark.operators.rollup import HourlyRollup

    r = HourlyRollup(spark, str(tmp_path / "rollup"))
    assert r.read().count() == 0
    assert r.compact() == []
    assert r.refresh(_events(spark, []).limit(0), batch_id=1) == []
    assert r.read().count() == 0  # still no table, still readable


def test_null_ts_rows_dropped_consistently(spark, tmp_path):
    """Dirty logs: NULL-timestamp rows can't be bucketed — both build and
    refresh drop them (the incremental path must not be more fragile than
    a rebuild)."""
    from execute_sync_spark.operators.rollup import HourlyRollup

    dirty = [
        (1, "2024-01-01 00:10:00", 1, "click", 2.0),
        (2, None, 2, "click", 99.0),
    ]
    r = HourlyRollup(spark, str(tmp_path / "rollup"))
    assert r.refresh(_events(spark, dirty), batch_id=1) == ["2024-01-01"]
    full = HourlyRollup(spark, str(tmp_path / "full"))
    full.build(_events(spark, dirty))
    assert _rows(r) == _rows(full)
    assert _rows(r)[("click", "2024-01-01 00:00:00", "2024-01-01")] == (1, 2.0)


def test_second_compact_is_a_noop(spark, tmp_path):
    """Periodic compaction must be O(days with new partials): a compact
    right after a compact finds nothing to do and rewrites nothing."""
    from execute_sync_spark.operators.rollup import HourlyRollup

    r = HourlyRollup(spark, str(tmp_path / "rollup"))
    r.refresh(_events(spark, [(1, "2024-01-01 00:10:00", 1, "click", 2.0)]), batch_id=1)
    r.refresh(_events(spark, [(2, "2024-01-02 00:10:00", 2, "view", 1.0)]), batch_id=2)
    assert r.compact() == ["2024-01-01", "2024-01-02"]
    files_after_first = _snapshot_files(str(tmp_path / "rollup"))
    assert r.compact() == []
    assert _snapshot_files(str(tmp_path / "rollup")) == files_after_first
    # a new batch makes ONLY its day compactable again
    r.refresh(_events(spark, [(3, "2024-01-02 01:00:00", 3, "view", 4.0)]), batch_id=3)
    assert r.compact() == ["2024-01-02"]
    assert _rows(r)[("view", "2024-01-02 01:00:00", "2024-01-02")] == (1, 4.0)


def test_sweep_recovers_interrupted_compact(spark, tmp_path, monkeypatch, caplog):
    """Crash INSIDE compact()'s two-rename window (live renamed aside,
    staged not yet renamed in): the day vanishes from reads and its
    manifest is stranded. sweep() must finish the swap forward from the
    staged output — manifest included, so a replay of an absorbed batch
    still skips — and reclaim the staged tmp (ADVICE r6 / ROADMAP item),
    reporting both in one structured log record."""
    import logging

    import pytest

    from execute_sync_spark.operators import rollup as rl

    r = rl.HourlyRollup(spark, str(tmp_path / "roll"))
    r.refresh(_events(spark, [(1, "2024-01-01 00:10:00", 1, "click", 2.0)]), batch_id=1)
    r.refresh(_events(spark, [(2, "2024-01-01 00:20:00", 2, "click", 3.0)]), batch_id=2)
    before = _rows(r)

    real_rename = os.rename

    def crash_mid_swap(src, dst):
        real_rename(src, dst)
        if "_old_day_" in os.path.basename(dst):
            raise RuntimeError("simulated crash between the two renames")

    monkeypatch.setattr(rl.os, "rename", crash_mid_swap)
    with pytest.raises(RuntimeError, match="simulated crash"):
        r.compact()
    monkeypatch.undo()

    # the stranded state: aside + staged tmp on disk; reads and refreshes
    # fail LOUDLY (silently losing the day was the ADVICE r6 hazard)
    assert any(n.startswith("_old_day_") for n in os.listdir(str(tmp_path / "roll")))
    with pytest.raises(RuntimeError, match="sweep"):
        r.read()
    with pytest.raises(RuntimeError, match="sweep"):
        r.refresh(
            _events(spark, [(3, "2024-01-01 00:30:00", 3, "click", 1.0)]), batch_id=3
        )

    caplog.set_level(logging.INFO, logger="execute_sync_spark.functions.index_commit")
    rep = r.sweep()
    assert rep["restored"]
    (event,) = [rec.index_commit for rec in caplog.records if hasattr(rec, "index_commit")]
    assert event == {
        "event": "sweep", "aside_prefix": "_old_day_", "path": r.path,
        "restored": rep["restored"], "reclaimed": rep["reclaimed"],
    }
    assert any(n.startswith("roll_compact_") for n in event["reclaimed"])
    assert _rows(r) == before
    # manifest survived the forward-finish: absorbed batch replay skips
    assert r.refresh(
        _events(spark, [(1, "2024-01-01 00:10:00", 1, "click", 2.0)]), batch_id=1
    ) == []
    # nothing left to sweep, and the staged tmp is gone
    assert r.sweep() == {"restored": [], "reclaimed": []}
    assert not any("compact" in n for n in os.listdir(str(tmp_path)))


def test_sweep_recovers_interrupted_build_and_respects_age(spark, tmp_path, monkeypatch):
    """Crash INSIDE build()'s window (old table renamed aside, staged
    rebuild not renamed in): the table path is gone. sweep() promotes the
    COMPLETE staged rebuild forward; a min_age_s above the aside's age
    leaves everything untouched (multi-process guard)."""
    import pytest

    from execute_sync_spark.operators import rollup as rl

    r = rl.HourlyRollup(spark, str(tmp_path / "roll"))
    r.refresh(_events(spark, [(1, "2024-01-01 00:10:00", 1, "click", 2.0)]), batch_id=1)

    real_rename = os.rename

    def crash_mid_swap(src, dst):
        if os.path.basename(dst) == "roll" and "_old_" in os.path.basename(src):
            raise AssertionError("unexpected")
        real_rename(src, dst)
        if "_old_" in os.path.basename(dst):
            raise RuntimeError("simulated crash between the two renames")

    monkeypatch.setattr(rl.os, "rename", crash_mid_swap)
    with pytest.raises(RuntimeError, match="simulated crash"):
        r.build(_events(spark, [(9, "2024-02-02 01:00:00", 9, "view", 5.0)]))
    monkeypatch.undo()
    assert not os.path.isdir(str(tmp_path / "roll"))

    # fresh asides are protected by the age guard
    assert r.sweep(min_age_s=3600) == {"restored": [], "reclaimed": []}
    assert not os.path.isdir(str(tmp_path / "roll"))

    rep = r.sweep()
    assert rep["restored"] and rep["reclaimed"]  # staged promoted, old aside reclaimed
    # the promoted table is the NEW build (forward-finish, not rollback)
    assert _rows(r) == {("view", "2024-02-02 01:00:00", "2024-02-02"): (1, 5.0)}
    assert r.sweep() == {"restored": [], "reclaimed": []}


def test_refresh_requires_batch_id(spark, tmp_path):
    """A generated batch id would double-count under at-least-once replay,
    so refresh(None) must fail loudly (ADVICE r6)."""
    import pytest

    from execute_sync_spark.operators.rollup import HourlyRollup

    r = HourlyRollup(spark, str(tmp_path / "roll"))
    with pytest.raises(ValueError, match="batch_id"):
        r.refresh(_events(spark, [(1, "2024-01-01 00:10:00", 1, "click", 2.0)]), batch_id=None)


def test_sweep_ignores_stale_staging_from_earlier_crash(spark, tmp_path):
    """A manifest-less staging dir left by an EARLIER crashed compact (a
    different pid) must never be forward-finished: it is a stale snapshot
    missing batches refreshed since, and without a manifest a replay of
    absorbed batches would double-count. sweep() rolls the aside (the
    day's real current data) back instead and reclaims the stale tmp."""
    import shutil

    from execute_sync_spark.operators.rollup import HourlyRollup

    path = str(tmp_path / "roll")
    r = HourlyRollup(spark, path)
    r.refresh(_events(spark, [(1, "2024-01-01 00:10:00", 1, "click", 2.0)]), batch_id=1)
    r.refresh(_events(spark, [(2, "2024-01-01 00:20:00", 2, "click", 3.0)]), batch_id=2)
    before = _rows(r)

    # stale tmp from a crashed earlier compact (other pid, NO manifest):
    # an old snapshot of the day holding only batch 1
    stale = str(tmp_path / "roll_compact_77777")
    os.makedirs(stale)
    shutil.copytree(
        os.path.join(path, "day=2024-01-01"), os.path.join(stale, "day=2024-01-01")
    )
    shutil.rmtree(os.path.join(stale, "day=2024-01-01", "batch_id=2"))

    # crash state from a LATER interrupted commit: live day renamed aside
    os.rename(
        os.path.join(path, "day=2024-01-01"),
        os.path.join(path, "_old_day_2024-01-01_88888"),
    )

    rep = r.sweep()
    assert "_old_day_2024-01-01_88888" in rep["restored"]
    assert "roll_compact_77777" in rep["reclaimed"]
    assert _rows(r) == before  # rolled BACK, batch 2 intact
    assert not os.path.isdir(stale)
