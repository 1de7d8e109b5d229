"""Object-store-shaped FAULT INJECTION against the shared commit protocols
(VERDICT r10 task 8): a rename raced by a concurrent writer, and
eventually-consistent (lagged) listings.

The contract ``storage.py`` declares is atomic-rename + list-after-write
listings. These tests exercise what happens just OUTSIDE that contract:

* **Lost conditional swap** — the commit rename fails (S3 If-None-Match
  lost the race / POSIX dst taken). The protocol must propagate the error
  (never swallow a failed commit) and ``sweep()`` must recover to a
  consistent state: forward-finish from the same run's staged output when
  the manifest is present, or reclaim our aside as debris when the
  concurrent winner's live dir exists.
* **Lagged listings** — a listing that does not yet show a recent commit.
  The protocols' listdir consumers must DEFER (skip this round) rather
  than misclassify: compact just misses a day until the listing settles,
  sweep leaves an invisible aside for the next sweep. The one place
  list-after-write consistency is load-bearing — refresh()'s stranded
  guard — is documented in storage.py as a deployment requirement (held
  by POSIX, HDFS, and post-2020 S3/GCS), not silently assumed.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from execute_sync_spark import storage
from tests.conftest import SF_DIR
from tests.test_storage_contract import (  # noqa: F401
    FakeConditionalStore,
    _events,
    _rows,
    swap_store,
)


class RaceInjectingStore(storage.LocalPosixStore):
    """One rename loses a race to a concurrent writer.

    ``arm(dst_substr)`` makes the next rename whose dst contains the
    substring raise FileExistsError WITHOUT renaming (the conditional-PUT
    loss: src untouched, dst owned by the winner-to-be). With
    ``winner_src`` set, the winner's directory physically appears at dst
    first and the delegated POSIX rename then fails naturally
    (ENOTEMPTY) — the dst-taken flavor of the same race."""

    def __init__(self):
        self._armed: tuple[str, str | None] | None = None
        self.raced: list[str] = []

    def arm(self, dst_substr: str, winner_src: str | None = None) -> None:
        self._armed = (dst_substr, winner_src)

    def rename(self, src: str, dst: str) -> None:
        if self._armed and self._armed[0] in dst:
            substr, winner = self._armed
            self._armed = None
            self.raced.append(dst)
            if winner is not None:
                os.rename(winner, dst)  # the concurrent writer commits first
                super().rename(src, dst)  # -> OSError: dst taken, non-empty
                raise AssertionError("dst-taken rename unexpectedly succeeded")
            raise FileExistsError(f"conditional swap lost the race: {dst}")
        super().rename(src, dst)


class LaggedListingStore(storage.LocalPosixStore):
    """Eventually-consistent listings: ``hide(name, n)`` drops ``name``
    from the next ``n`` listings that would contain it (the classic
    pre-2020 S3 LIST lag, simulated deterministically)."""

    def __init__(self):
        self._hidden: dict[str, int] = {}

    def hide(self, name: str, listings: int) -> None:
        self._hidden[name] = listings

    def listdir(self, p: str) -> list[str]:
        names = super().listdir(p)
        out = []
        for n in names:
            if self._hidden.get(n, 0) > 0:
                self._hidden[n] -= 1
                continue
            out.append(n)
        return out


def _rollup_with_two_batches(spark, path):
    from execute_sync_spark.operators.rollup import HourlyRollup

    r = HourlyRollup(spark, path)
    r.refresh(_events(spark, [(1, "2024-01-01 00:10:00", 1, "click", 2.0)]), batch_id=1)
    r.refresh(_events(spark, [(2, "2024-01-01 00:30:00", 2, "click", 3.0)]), batch_id=2)
    return r, {("click", "2024-01-01 00:00:00", "2024-01-01"): (2, 5.0)}


def test_compact_commit_rename_race_forward_finish(spark, tmp_path, swap_store):  # noqa: F811
    """compact()'s staged->live rename loses the race: the error must
    propagate (a swallowed failed commit is silent data loss), reads must
    refuse the stranded state, and sweep must finish FORWARD from the same
    run's staged output — manifest included, so absorbed-batch replay
    stays idempotent after recovery."""
    store = swap_store(RaceInjectingStore())
    r, expect = _rollup_with_two_batches(spark, str(tmp_path / "rollup"))

    store.arm("/day=2024-01-01")  # 2nd rename of the swap; aside dst doesn't match
    with pytest.raises(FileExistsError):
        r.compact()
    assert store.raced
    # live day gone, aside + staged dir stranded -> reads refuse, not omit
    with pytest.raises(RuntimeError, match="stranded"):
        r.read().collect()

    out = r.sweep(min_age_s=0)
    assert any(n.startswith("_old_day_2024-01-01") for n in out["restored"])
    assert _rows(r) == expect
    # the forward-finished day carries the manifest: replay is still a skip
    assert r.refresh(
        _events(spark, [(2, "2024-01-01 00:30:00", 2, "click", 3.0)]), batch_id=2
    ) == []
    assert _rows(r) == expect


def test_compact_commit_rename_dst_taken_by_winner(spark, tmp_path, swap_store):  # noqa: F811
    """Two compactors race one day; ours loses AFTER parking the live dir
    aside — the winner's live dir exists when our staged->live rename
    runs. The failed commit propagates, and sweep classifies our aside as
    debris (live exists), never clobbering the winner."""
    store = swap_store(RaceInjectingStore())
    r, expect = _rollup_with_two_batches(spark, str(tmp_path / "rollup"))

    # the "winner": an equivalent committed day (same partials, as a real
    # racing compactor of the same rollup would produce)
    winner = str(tmp_path / "winner_day")
    shutil.copytree(os.path.join(r.path, "day=2024-01-01"), winner)
    store.arm("/day=2024-01-01", winner_src=winner)
    with pytest.raises(OSError):
        r.compact()

    out = r.sweep(min_age_s=0)
    assert any(n.startswith("_old_day_2024-01-01") for n in out["reclaimed"])
    assert not any(n.startswith("_old_day_") for n in out["restored"])
    assert _rows(r) == expect  # the winner's day is live and untouched
    assert r.compact() == ["2024-01-01"]  # a clean retry compacts normally
    assert _rows(r) == expect


def test_index_compact_rename_race_forward_finish(spark, tmp_path, swap_store):  # noqa: F811
    """Same race against the shared index commit protocol
    (functions/index_commit.py): the IVF leaf swap loses its staged->live
    rename; sweep_index forward-finishes and probes stay correct."""
    from execute_sync_spark.functions import similarity

    store = swap_store(RaceInjectingStore())
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 4)
    idx = similarity.build_cell_index(
        emb.filter(F.col("vec_id") < 40), centroids, str(tmp_path / "ivf")
    )
    similarity.append_cell_index(
        emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 60)),
        centroids, idx, batch_id=7,
    )
    n = spark.read.parquet(idx).count()
    cell = next(
        c for c in storage.STORE.listdir(idx) if c.startswith("cell_id=")
    )[len("cell_id="):]

    store.arm(f"/cell_id={cell}")
    with pytest.raises(FileExistsError):
        similarity.compact_index(spark, idx)
    out = similarity.sweep_index(idx, min_age_s=0)
    assert any(f"_old_cell_{cell}" in x for x in out["restored"])
    assert spark.read.parquet(idx).count() == n
    # recovered leaf still carries the manifest: absorbed replay skips
    assert similarity.append_cell_index(
        emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 60)),
        centroids, idx, batch_id=7,
    ) == []


def test_lagged_listing_defers_instead_of_misclassifying(spark, tmp_path, swap_store):  # noqa: F811
    """Listings that lag a commit must only DELAY maintenance, never lose
    data: compact misses the invisible day this round and picks it up once
    the listing settles; sweep leaves an invisible stranded aside for the
    next sweep and restores it then."""
    store = swap_store(LaggedListingStore())
    r, expect = _rollup_with_two_batches(spark, str(tmp_path / "rollup"))

    # compact under a lagged listing: the day dir is invisible -> benign no-op
    store.hide("day=2024-01-01", 1)
    assert r.compact() == []
    assert r.compact() == ["2024-01-01"]  # listing settled -> compacts normally
    assert _rows(r) == expect

    # stranded aside invisible to sweep: deferred, then restored once visible
    live = os.path.join(r.path, "day=2024-01-01")
    aside = "_old_day_2024-01-01_99999"
    storage.STORE.rename(live, os.path.join(r.path, aside))
    store.hide(aside, 1)  # sweep's one listing of the table dir lags
    assert r.sweep(min_age_s=0) == {"restored": [], "reclaimed": []}
    out = r.sweep(min_age_s=0)
    assert aside in out["restored"]
    assert _rows(r) == expect


# ---------------------------------------------------------------------------
# round-12 stretch (VERDICT r11 task 8): conditional-PUT conflict — two
# writers race one pointer swap on the NON-POSIX store. The r11 suite
# injected raced renames against the POSIX store; here the loss comes out
# of the conditional store's own If-None-Match semantics.


class ConflictConditionalStore(FakeConditionalStore):
    """``arm(dst_substr, winner_src)``: when a rename targets the armed
    dst, the WINNER's staged dir takes the pointer first (its own
    successful conditional PUT), and the delegated swap then loses
    If-None-Match naturally — no injected exception, the store's own
    symlink-create conflict is the failure."""

    def __init__(self, physical_root):
        super().__init__(physical_root)
        self._armed = None
        self.conflicts: list[str] = []

    def arm(self, dst_substr: str, winner_src: str) -> None:
        self._armed = (dst_substr, winner_src)

    def rename(self, src, dst):
        if self._armed and self._armed[0] in dst:
            _, winner = self._armed
            self._armed = None
            super().rename(winner, dst)  # the concurrent writer wins the swap
            self.conflicts.append(dst)
        super().rename(src, dst)


def test_compact_conditional_put_conflict_two_writers(spark, tmp_path, swap_store):  # noqa: F811
    """Two compactors race one day's pointer swap on the conditional
    store; ours loses AFTER parking the live day aside. The failed
    commit propagates as the store's own FileExistsError, the staged
    name survives the lost swap (the object-store contract: a lost
    If-None-Match leaves the upload addressable), sweep reclaims our
    aside as debris without touching the winner, and a clean retry
    compacts the winner's live day normally."""
    store = swap_store(ConflictConditionalStore(str(tmp_path / "_physical")))
    r, expect = _rollup_with_two_batches(spark, str(tmp_path / "rollup"))

    winner = str(tmp_path / "winner_day")
    shutil.copytree(os.path.join(r.path, "day=2024-01-01"), winner)
    store.arm("/day=2024-01-01", winner_src=winner)
    with pytest.raises(FileExistsError):
        r.compact()
    assert store.conflicts == [os.path.join(r.path, "day=2024-01-01")]

    out = r.sweep(min_age_s=0)
    assert any(n.startswith("_old_day_2024-01-01") for n in out["reclaimed"])
    assert not any(n.startswith("_old_day_") for n in out["restored"])
    assert _rows(r) == expect  # the winner's day is live and untouched
    assert r.compact() == ["2024-01-01"]  # clean retry compacts normally
    assert _rows(r) == expect


# round-13 fault axis: an APPENDER races the compactor's swap window. The
# r10-r12 injections put a second COMPACTOR on the other side of the race
# (live dir = a complete copy); an appender's recreated leaf holds ONLY
# its new batch, so the old "live exists -> reclaim the aside" rule would
# silently drop every pre-compact batch. sweep() now reclaims by
# COVERAGE: what live's batch dirs + manifest prove, and merges the rest
# back in.


class AppendInWindowStore(storage.LocalPosixStore):
    """``arm(aside_substr, planted_batch_src, live_dst, batch_name)``:
    when the compactor parks the armed leaf aside (rename whose dst
    contains the substring), the concurrent appender's batch physically
    lands at the recreated live path — so the compactor's staged->live
    rename then fails naturally (ENOTEMPTY), exactly the
    dynamic-overwrite write racing the swap window."""

    def __init__(self):
        self._armed = None
        self.planted: list[str] = []

    def arm(self, aside_substr, planted_src, live_dst, batch_name):
        self._armed = (aside_substr, planted_src, live_dst, batch_name)

    def rename(self, src, dst):
        super().rename(src, dst)
        if self._armed and self._armed[0] in dst:
            _, planted, live, bname = self._armed
            self._armed = None
            os.makedirs(live)
            os.rename(planted, os.path.join(live, bname))
            self.planted.append(live)


def test_index_append_during_compact_window_is_not_lost(spark, tmp_path, swap_store):  # noqa: F811
    """An append lands in a leaf between compact's two renames: the
    compactor fails loudly, and sweep must preserve BOTH the appended
    batch (in the recreated live dir) and every pre-compact batch (in
    the aside) — the coverage-merge rule, not blind reclaim."""
    from execute_sync_spark.functions import similarity

    store = swap_store(AppendInWindowStore())
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 4)
    idx = similarity.build_cell_index(
        emb.filter(F.col("vec_id") < 40), centroids, str(tmp_path / "ivf")
    )
    similarity.append_cell_index(
        emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 60)),
        centroids, idx, batch_id=7,
    )
    n_total = spark.read.parquet(idx).count()

    # stage the racer: lift one leaf's batch-7 dir out of the index; the
    # armed store will land it back as the appender's write inside the
    # swap window
    cell = next(
        c[len("cell_id="):]
        for c in sorted(storage.STORE.listdir(idx))
        if c.startswith("cell_id=")
        and storage.STORE.isdir(os.path.join(idx, c, "batch_id=7"))
    )
    live = os.path.join(idx, f"cell_id={cell}")
    stash = str(tmp_path / "racer_batch")
    os.rename(os.path.join(live, "batch_id=7"), stash)
    assert spark.read.parquet(idx).count() < n_total

    store.arm(f"_old_cell_{cell}_", stash, live, "batch_id=7")
    with pytest.raises(OSError):
        similarity.compact_index(spark, idx)
    assert store.planted  # the race actually happened

    out = similarity.sweep_index(idx, min_age_s=0)
    # the armed leaf was MERGED (uncovered pre-compact batches moved back
    # beside the appender's batch), not reclaimed as debris
    assert any(f"_old_cell_{cell}_" in x for x in out["restored"])
    assert not any(f"_old_cell_{cell}_" in x for x in out["reclaimed"])
    assert spark.read.parquet(idx).count() == n_total  # nothing lost
    live_batches = sorted(storage.STORE.listdir(live))
    assert any(b == "batch_id=7" for b in live_batches)
    assert any(b.startswith("batch_id=") and b != "batch_id=7" for b in live_batches)

    # a clean retry compacts everything, and the folded manifest then
    # absorbs a replay of batch 7
    assert similarity.compact_index(spark, idx)
    assert spark.read.parquet(idx).count() == n_total
    assert similarity.append_cell_index(
        emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 60)),
        centroids, idx, batch_id=7,
    ) == []


def test_rollup_refresh_during_compact_window_is_not_lost(spark, tmp_path, swap_store):  # noqa: F811
    """The same race against the rollup: a refresh lands in a day between
    compact's two renames. sweep must merge the pre-compact batches back
    beside the refreshed one (restored, not reclaimed), so the totals
    still count all three batches."""
    store = swap_store(AppendInWindowStore())
    r, _ = _rollup_with_two_batches(spark, str(tmp_path / "rollup"))
    b3 = [(3, "2024-01-01 00:50:00", 3, "click", 4.0)]
    assert r.refresh(_events(spark, b3), batch_id=3) == ["2024-01-01"]
    expect = {("click", "2024-01-01 00:00:00", "2024-01-01"): (3, 9.0)}

    # stage the racer: lift batch 3's dir out; the armed store lands it
    # back as the refresh's write inside the swap window
    live = os.path.join(r.path, "day=2024-01-01")
    stash = str(tmp_path / "racer_batch")
    os.rename(os.path.join(live, "batch_id=3"), stash)
    store.arm("_old_day_2024-01-01_", stash, live, "batch_id=3")
    with pytest.raises(OSError):
        r.compact()
    assert store.planted  # the race actually happened

    out = r.sweep(min_age_s=0)
    assert any(n.startswith("_old_day_2024-01-01_") for n in out["restored"])
    assert not any(n.startswith("_old_day_2024-01-01_") for n in out["reclaimed"])
    assert _rows(r) == expect  # batches 1 and 2 survived beside batch 3

    # a clean retry compacts all three, and a replay of batch 3 is absorbed
    assert r.compact() == ["2024-01-01"]
    assert r.refresh(_events(spark, b3), batch_id=3) == []
    assert _rows(r) == expect


def test_partially_committed_batch_replays_missing_leaves(spark, tmp_path):
    """A dynamic-overwrite commit that dies partway through its partition
    moves leaves some cells without the batch. After a compact, the
    replay must write exactly those cells — skipping the whole batch
    because some manifest lists it would lose them for good."""
    from execute_sync_spark.functions import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 4)
    new = emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 60))
    idx = similarity.build_cell_index(
        emb.filter(F.col("vec_id") < 40), centroids, str(tmp_path / "ivf")
    )
    similarity.append_cell_index(new, centroids, idx, batch_id=7)
    n_total = spark.read.parquet(idx).count()

    # the partition Spark's commitJob never moved into place
    cell = next(
        c[len("cell_id="):]
        for c in sorted(os.listdir(idx))
        if os.path.isdir(os.path.join(idx, c, "batch_id=7"))
    )
    shutil.rmtree(os.path.join(idx, f"cell_id={cell}", "batch_id=7"))
    assert spark.read.parquet(idx).count() < n_total

    assert similarity.compact_index(spark, idx)
    assert similarity.append_cell_index(new, centroids, idx, batch_id=7) == [int(cell)]
    assert spark.read.parquet(idx).count() == n_total


# ---------------------------------------------------------------------------
# Fourth fault axis (round 14): non-atomic copy+delete rename (S3 without
# conditional writes). storage.py has always CLAIMED every protocol here
# tolerates a crash BETWEEN the copy and the delete — these tests make the
# claim injected fact instead of docstring assertion.


class CrashAfterCopyStore(storage.CopyDeleteStore):
    """CopyDeleteStore whose next rename with ``dst_substr`` in its dst
    crashes AFTER the copy and BEFORE the delete — both src and dst
    survive, the protocol sees the rename fail."""

    def __init__(self):
        self._armed: str | None = None
        self.crashed: list[str] = []

    def arm(self, dst_substr: str) -> None:
        self._armed = dst_substr

    def _post_copy_hook(self, src: str, dst: str) -> None:
        if self._armed and self._armed in dst:
            self._armed = None
            self.crashed.append(dst)
            raise OSError(f"simulated crash between copy and delete: {dst}")


def test_copydelete_protocols_pass_end_to_end(spark, tmp_path, swap_store):  # noqa: F811
    """The full refresh/replay/compact/read cycle runs unmodified on
    copy+delete rename semantics (no atomicity anywhere)."""
    swap_store(CrashAfterCopyStore())
    r, expect = _rollup_with_two_batches(spark, str(tmp_path / "rollup"))
    assert _rows(r) == expect
    assert r.compact() == ["2024-01-01"]
    assert _rows(r) == expect
    # absorbed replay still skips through the manifest
    assert r.refresh(
        _events(spark, [(2, "2024-01-01 00:30:00", 2, "click", 3.0)]), batch_id=2
    ) == []
    assert _rows(r) == expect


def test_copydelete_crash_window_first_rename(spark, tmp_path, swap_store):  # noqa: F811
    """Crash between copy and delete on the swap's FIRST rename (live ->
    aside): both the live day and the aside copy survive. Sweep must
    classify the aside as covered debris (the live dir holds every batch
    the copy holds), reclaim it, and leave the data intact for a clean
    retry."""
    store = swap_store(CrashAfterCopyStore())
    r, expect = _rollup_with_two_batches(spark, str(tmp_path / "rollup"))

    store.arm("_old_day_2024-01-01")
    with pytest.raises(OSError, match="between copy and delete"):
        r.compact()
    assert store.crashed
    out = r.sweep(min_age_s=0)
    assert any(n.startswith("_old_day_2024-01-01") for n in out["reclaimed"])
    assert _rows(r) == expect
    assert r.compact() == ["2024-01-01"]  # clean retry
    assert _rows(r) == expect


def test_copydelete_crash_window_second_rename(spark, tmp_path, swap_store):  # noqa: F811
    """Crash between copy and delete on the swap's SECOND rename (staged
    -> live): the compacted live day exists AND the staged source
    survives, with the pre-compact aside still parked. Sweep reclaims the
    covered aside and the stale staging dir; reads are correct; absorbed
    replay still skips."""
    store = swap_store(CrashAfterCopyStore())
    r, expect = _rollup_with_two_batches(spark, str(tmp_path / "rollup"))

    store.arm("/day=2024-01-01")  # first rename's dst is the aside, not this
    with pytest.raises(OSError, match="between copy and delete"):
        r.compact()
    out = r.sweep(min_age_s=0)
    assert any(n.startswith("_old_day_2024-01-01") for n in out["reclaimed"])
    assert _rows(r) == expect
    assert r.refresh(
        _events(spark, [(2, "2024-01-01 00:30:00", 2, "click", 3.0)]), batch_id=2
    ) == []
    assert _rows(r) == expect
