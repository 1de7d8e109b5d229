"""Storage-interface contract tests (VERDICT r9 tasks 3 & 7).

Two proofs that the recoverable-commit protocols — ``HourlyRollup``
(operators/rollup.py) and the persisted-ANN index maintenance
(functions/similarity.py) — run their commit metadata ENTIRELY through
``storage.STORE``:

1. **Delegating recorder** (task 3): a wrapper injected via
   ``storage.set_store`` records every store call while full protocol
   cycles run (refresh / replay / compact / crash / sweep). The cycles
   must still pass AND the recorder must have seen every primitive the
   protocols claim to use. A static source check pins the complement:
   zero raw ``os.rename``/``shutil``/``os.listdir``/``open(`` left in
   the protocol file (functions/index_commit.py) and its clients.
2. **FakeConditionalStore** (task 7): rename implemented as a
   conditional POINTER SWAP — the S3 manifest-pointer idiom
   ``storage.py`` documents. Staged directories are moved to an
   immutable physical area and the logical name becomes an atomically
   created pointer (a symlink here; creation fails if the name is taken
   = S3's If-None-Match conditional PUT). The same replay / compact /
   crash-sweep cycles must pass on it, proving the protocols don't
   secretly depend on POSIX directory-rename semantics. (Bulk parquet
   still goes through Spark directly, per the storage.py contract —
   only commit metadata is pointer-swapped.)
"""

import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from execute_sync_spark import storage
from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# store implementations under test


class DelegatingStore:
    """Records every store call, then delegates to the wrapped store."""

    def __init__(self, inner):
        self.inner = inner
        self.calls: list[str] = []

    def __getattr__(self, name):
        fn = getattr(self.inner, name)

        def wrapped(*a, **k):
            self.calls.append(name)
            return fn(*a, **k)

        return wrapped


class FakeConditionalStore:
    """Commit-metadata store whose rename is a conditional pointer swap
    (storage.py's S3 deployment sketch): data dirs are moved to an
    immutable physical key under ``physical_root`` and the logical name
    is an atomically-created symlink pointer. ``os.symlink`` raises
    FileExistsError when the name is taken — the conditional-PUT
    semantics. rmtree of a pointer reclaims both pointer and physical."""

    def __init__(self, physical_root: str):
        self.physical = physical_root
        os.makedirs(physical_root, exist_ok=True)
        self._seq = 0
        self.pointer_swaps = 0

    # reads pass through (listdir/isdir follow pointers like an object
    # store resolves a prefix through its manifest)
    def isdir(self, p):
        return os.path.isdir(p)

    def isfile(self, p):
        return os.path.isfile(p)

    def exists(self, p):
        return os.path.exists(p)

    def listdir(self, p):
        return os.listdir(p)

    def read_text(self, p):
        with open(p) as f:
            return f.read()

    def write_text(self, p, s):
        with open(p, "w") as f:
            f.write(s)

    def mtime(self, p):
        return os.path.getmtime(p)

    def freshness(self, p):
        # pointers: the POINTER object's last-modified is the commit clock
        st = os.lstat(p) if os.path.islink(p) else os.stat(p)
        return max(st.st_mtime, st.st_ctime)

    def utime(self, p):
        if os.path.islink(p):
            os.utime(p, follow_symlinks=False)
        else:
            os.utime(p)

    def remove(self, p):
        os.remove(p)

    def _publish(self, src: str) -> str:
        """Resolve src to its immutable physical key, retiring the src
        name. A pointer src just yields its target; a real dir is
        'uploaded' (moved) to a fresh physical key."""
        if os.path.islink(src):
            tgt = os.readlink(src)
            os.remove(src)
            return tgt
        self._seq += 1
        phys = os.path.join(self.physical, f"obj{self._seq:06d}")
        os.rename(src, phys)
        return phys

    def rename(self, src, dst):
        src_was_link = os.path.islink(src)
        tgt = self._publish(src)
        self.pointer_swaps += 1
        try:
            os.symlink(tgt, dst)  # conditional PUT: fails if dst name taken
        except FileExistsError:
            # a lost swap must not destroy the staged NAME: on a real
            # object store the uploaded object stays addressable at its
            # staged key when the pointer PUT loses If-None-Match, so the
            # caller's recovery path (sweep forward-finish / clean retry)
            # must still see src. Restore it before propagating.
            if src_was_link:
                os.symlink(tgt, src)
            else:
                os.rename(tgt, src)
            raise

    def rmtree(self, p):
        if os.path.islink(p):
            shutil.rmtree(os.path.realpath(p), ignore_errors=True)
            os.remove(p)
        else:
            shutil.rmtree(p, ignore_errors=True)


@pytest.fixture
def swap_store():
    """Inject a store for one test, always restoring the default."""
    prev = storage.STORE

    def _set(store):
        storage.set_store(store)
        return store

    yield _set
    storage.set_store(prev)


# ---------------------------------------------------------------------------
# shared protocol scenarios


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _rows(r):
    return {
        (x.event_type, str(x.bucket_start), str(x.day)): (x.n_events, x.sum_value)
        for x in r.read().collect()
    }


def _rollup_cycle(spark, path):
    """Full HourlyRollup protocol: refresh x2, replay, compact, replay of
    an absorbed batch, then a simulated compact crash + guarded and
    unguarded sweeps. Returns the rollup for final assertions."""
    from execute_sync_spark.operators.rollup import HourlyRollup

    fs = storage.STORE
    r = HourlyRollup(spark, path)
    b1 = [(1, "2024-01-01 00:10:00", 1, "click", 2.0)]
    b2 = [(2, "2024-01-01 00:30:00", 2, "click", 3.0)]
    assert r.refresh(_events(spark, b1), batch_id=1) == ["2024-01-01"]
    assert r.refresh(_events(spark, b2), batch_id=2) == ["2024-01-01"]
    r.refresh(_events(spark, b2), batch_id=2)  # replay before compact
    assert r.compact() == ["2024-01-01"]
    assert r.refresh(_events(spark, b2), batch_id=2) == []  # absorbed -> skip
    expect = {("click", "2024-01-01 00:00:00", "2024-01-01"): (2, 5.0)}
    assert _rows(r) == expect

    # crash inside compact's two-rename window: live day parked aside,
    # no staged replacement -> sweep must roll the aside back
    live = os.path.join(path, "day=2024-01-01")
    aside = os.path.join(path, "_old_day_2024-01-01_99999")
    fs.rename(live, aside)
    # guarded sweep first: fresh aside + min_age -> untouched (freshness path)
    assert r.sweep(min_age_s=3600) == {"restored": [], "reclaimed": []}
    out = r.sweep(min_age_s=0)
    assert "_old_day_2024-01-01_99999" in out["restored"]
    assert _rows(r) == expect
    return r


def _index_cycle(spark, path):
    """Persisted-IVF-index protocol: build, append, replay append,
    compact, replay of an absorbed batch, crash + sweep."""
    from execute_sync_spark.functions import similarity

    fs = storage.STORE
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 4)
    old = emb.filter(F.col("vec_id") < 40)
    new = emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 60))
    idx = similarity.build_cell_index(old, centroids, path)
    touched = similarity.append_cell_index(new, centroids, idx, batch_id=7)
    assert touched
    n_after = spark.read.parquet(idx).count()
    assert similarity.compact_index(spark, idx)
    # replay of the absorbed batch: skipped entirely, no duplicate vectors
    assert similarity.append_cell_index(new, centroids, idx, batch_id=7) == []
    assert spark.read.parquet(idx).count() == n_after

    # crash sim: park one live cell aside, sweep restores it
    cell = next(
        n for n in fs.listdir(idx) if n.startswith("cell_id=")
    )[len("cell_id="):]
    fs.rename(
        os.path.join(idx, f"cell_id={cell}"),
        os.path.join(idx, f"_old_cell_{cell}_99999"),
    )
    assert similarity.sweep_index(idx, min_age_s=3600) == {
        "restored": [],
        "reclaimed": [],
    }
    out = similarity.sweep_index(idx, min_age_s=0)
    assert f"_old_cell_{cell}_99999" in out["restored"]
    assert spark.read.parquet(idx).count() == n_after


# ---------------------------------------------------------------------------
# task 3: delegating recorder + static boundary check


def test_protocol_files_have_no_raw_fs_calls():
    """The complement of the injection test: the protocol file and its
    clients contain zero raw commit-metadata filesystem calls — everything
    goes through storage.STORE (path math via os.path and Spark bulk I/O
    are allowed; that's the documented boundary)."""
    import execute_sync_spark.operators.rollup as rollup_mod
    from execute_sync_spark.functions import index_commit as commit_mod
    from execute_sync_spark.functions import similarity as sim_mod

    forbidden = re.compile(
        r"\bos\.rename\b|\bshutil\.|\bos\.listdir\b|\bos\.remove\b"
        r"|\bos\.utime\b|\bos\.path\.getmtime\b|(?<![\w.])open\("
    )
    for mod in (commit_mod, rollup_mod, sim_mod):
        with open(mod.__file__) as f:
            src = f.read()
        hits = [
            (i + 1, line.strip())
            for i, line in enumerate(src.splitlines())
            if forbidden.search(line.split("#")[0])  # code, not comments
        ]
        assert not hits, f"raw fs calls in {mod.__file__}: {hits[:5]}"


def test_rollup_runs_entirely_through_injected_store(spark, tmp_path, swap_store):
    rec = swap_store(DelegatingStore(storage.LocalPosixStore()))
    _rollup_cycle(spark, str(tmp_path / "rollup"))
    seen = set(rec.calls)
    # every primitive the rollup protocol claims to use was delegated
    assert {
        "isdir", "listdir", "rename", "rmtree", "read_text",
        "write_text", "freshness",
    } <= seen, f"missing: {seen}"


def test_index_runs_entirely_through_injected_store(spark, tmp_path, swap_store):
    rec = swap_store(DelegatingStore(storage.LocalPosixStore()))
    _index_cycle(spark, str(tmp_path / "ivf"))
    seen = set(rec.calls)
    assert {
        "isdir", "isfile", "listdir", "rename", "rmtree", "read_text",
        "write_text", "utime", "freshness",
    } <= seen, f"missing: {seen}"


# ---------------------------------------------------------------------------
# task 7: the protocols pass on a NON-POSIX (pointer-swap) store


def test_rollup_on_conditional_pointer_store(spark, tmp_path, swap_store):
    store = swap_store(FakeConditionalStore(str(tmp_path / "_physical")))
    _rollup_cycle(spark, str(tmp_path / "rollup"))
    assert store.pointer_swaps > 0  # commits really took the pointer path


def test_index_on_conditional_pointer_store(spark, tmp_path, swap_store):
    store = swap_store(FakeConditionalStore(str(tmp_path / "_physical")))
    _index_cycle(spark, str(tmp_path / "ivf"))
    assert store.pointer_swaps > 0


def test_lsh_index_on_conditional_pointer_store(spark, tmp_path, swap_store):
    """The shared commit protocol's two-level (table, bucket) leaves must
    pass on the pointer-swap store too — append, compact, absorbed-replay
    skip, crash + sweep, probes stable throughout."""
    from execute_sync_spark.functions import similarity

    store = swap_store(FakeConditionalStore(str(tmp_path / "_physical")))
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    idx = similarity.build_lsh_index(
        emb.filter(F.col("vec_id") < 40), str(tmp_path / "lsh")
    )
    similarity.append_lsh_index(
        emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 60)), idx, batch_id=7
    )
    before = sorted(
        map(tuple, similarity.lsh_topk_indexed(spark, idx, queries).collect())
    )
    n = spark.read.parquet(idx).count()
    assert similarity.compact_lsh_index(spark, idx)
    assert similarity.append_lsh_index(
        emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 60)), idx, batch_id=7
    ) == []
    assert spark.read.parquet(idx).count() == n

    # crash + sweep on pointer semantics
    t = next(x for x in os.listdir(idx) if x.startswith("table="))[len("table="):]
    b = next(
        x for x in os.listdir(os.path.join(idx, f"table={t}"))
        if x.startswith("bucket=")
    )[len("bucket="):]
    storage.STORE.rename(
        os.path.join(idx, f"table={t}", f"bucket={b}"),
        os.path.join(idx, f"_old_tb_{t}-{b}_99999"),
    )
    out = similarity.sweep_lsh_index(idx, min_age_s=0)
    assert f"_old_tb_{t}-{b}_99999" in out["restored"]
    after = sorted(
        map(tuple, similarity.lsh_topk_indexed(spark, idx, queries).collect())
    )
    assert after == before
    assert store.pointer_swaps > 0
