"""Commit-protocol storage interface (VERDICT r8 task 9).

The recoverable-commit protocol in this repo — ``functions/index_commit.py``
(append/compact/sweep), run by ``operators/rollup.py``'s HourlyRollup and
by every persisted index (IVF/PQ, sign-LSH, pHash, BM25), plus the
rollup's own full-build swap — does two kinds of I/O:

1. **Bulk data** (parquet partitions): always read/written THROUGH SPARK,
   which already speaks every Hadoop-compatible filesystem (local, HDFS,
   s3a, gs, abfs). Nothing here intercepts that.
2. **Commit metadata** (directory swaps, aside/staging dirs, manifest
   files, freshness stats): previously raw ``os``/``shutil`` calls —
   local-POSIX only. This module routes those through ONE small store
   interface so a deployment can swap the commit layer without touching
   protocol logic.

Store contract (what the protocols actually rely on):

- ``rename(src, dst)`` is ATOMIC within the store and fails if ``dst``
  exists as a non-empty target on POSIX semantics. Every protocol commit
  point is one rename (manifest-last ordering does the rest).
- ``listdir`` is list-after-write consistent: a completed rename is
  visible to the next listing (true of POSIX, HDFS, and modern S3/GCS).
  Fault-injection coverage (``tests/test_storage_faults.py``) pins where
  this matters: compact/sweep merely DEFER work under a lagged listing
  (an invisible day compacts next round; an invisible stranded aside is
  restored by the next sweep), and a commit rename raced by a concurrent
  writer propagates loudly and is recovered by sweep (forward-finish
  from the same run's staged manifest, or reclaim-as-debris when the
  winner's live dir exists). The one LOAD-BEARING use is the refresh
  stranded-guard: on a store whose listings lag indefinitely, a refresh
  could recreate a stranded day and a later sweep would then reclaim the
  aside holding that day's history. Deployments must provide
  list-after-write listings (all mainstream stores since S3's 2020
  strong-consistency change do).
- ``freshness(path)`` returns a monotonic-enough timestamp for the
  multi-process sweep guard: max(mtime, ctime) locally, last-modified on
  object stores.

Object stores without native atomic directory rename (S3) implement
``rename`` as one of:

- a **manifest-pointer swap**: the Delta/Iceberg idiom — directories are
  immutable once written and "rename" is a conditional PUT of a pointer
  object naming the current live prefix (S3 now supports If-None-Match /
  If-Match conditional writes). The two-rename swap becomes two pointer
  updates; asides are just previous pointer values, so sweep's
  restore/rollback rules carry over unchanged.
- **server-side copy + delete** under a single-writer lock (the lease the
  sweep ``min_age_s`` guard approximates): correct because every protocol
  here tolerates a crash BETWEEN the copy and the delete — the sweep
  rules classify the duplicate as a reclaimable aside.

HDFS/ABFS/GCS expose atomic rename directly; ``LocalPosixStore`` is the
default. ``CopyDeleteStore`` (below) ships the S3-without-conditional-
writes semantics — rename as COPY + DELETE, non-atomic by construction —
and ``tests/test_storage_faults.py`` injects a crash INSIDE its
copy-to-delete window on both renames of the compaction swap, turning
this module's tolerance claim into tested fact (round 14). ``set_store``
injects any implementation process-wide; ``tests/test_storage_contract.py``
additionally injects (a) a delegating recorder to prove the protocols run
entirely through the interface and (b) a ``FakeConditionalStore``
implementing rename as the conditional pointer-swap sketched above,
proving the protocols pass on non-POSIX rename semantics.
"""

from __future__ import annotations

import os
import shutil


class LocalPosixStore:
    """Commit-metadata store over local-POSIX directory semantics —
    atomic same-filesystem rename, plain listdir/stat/open."""

    def isdir(self, p: str) -> bool:
        return os.path.isdir(p)

    def isfile(self, p: str) -> bool:
        return os.path.isfile(p)

    def exists(self, p: str) -> bool:
        return os.path.exists(p)

    def listdir(self, p: str) -> list[str]:
        return os.listdir(p)

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def rmtree(self, p: str) -> None:
        shutil.rmtree(p, ignore_errors=True)

    def remove(self, p: str) -> None:
        os.remove(p)

    def read_text(self, p: str) -> str:
        with open(p) as f:
            return f.read()

    def write_text(self, p: str, s: str) -> None:
        with open(p, "w") as f:
            f.write(s)

    def mtime(self, p: str) -> float:
        return os.path.getmtime(p)

    def freshness(self, p: str) -> float:
        """Newest of (mtime, ctime) — the multi-process sweep guard's
        clock. POSIX rename preserves mtime but bumps ctime, so a
        freshly-renamed aside reads as fresh (ADVICE r8)."""
        st = os.stat(p)
        return max(st.st_mtime, st.st_ctime)

    def utime(self, p: str) -> None:
        os.utime(p)


class CopyDeleteStore(LocalPosixStore):
    """S3-shaped rename semantics (VERDICT r13 task 8): object stores
    without atomic directory rename and without conditional writes
    implement rename as server-side COPY + DELETE. This adapter gives the
    commit layer exactly those semantics over local files:

    - ``rename`` refuses a non-empty existing dst (the conditional-create
      guard the protocols rely on — same observable contract as POSIX
      rename onto a non-empty directory), then deep-copies src to dst and
      only then deletes src. NOT atomic: a crash between the copy and the
      delete leaves BOTH src and dst present — the exact window the
      module docstring claims every protocol here tolerates, and which
      ``tests/test_storage_faults.py`` injects via ``_post_copy_hook``
      (sweep classifies the surviving duplicate as a covered aside /
      stale staging and reclaims it; no data loss, clean retry).
    - everything else inherits the POSIX behaviors, which match object
      stores' read paths (list-after-write consistent since S3 2020).

    Local-disk-backed because no object-store SDK ships in this
    environment; what it changes is the SEMANTICS the protocols see,
    which is the part the protocols can get wrong."""

    def _post_copy_hook(self, src: str, dst: str) -> None:
        """Fault-injection seam: runs between the copy and the delete."""

    def rename(self, src: str, dst: str) -> None:
        if os.path.isfile(dst) or (os.path.isdir(dst) and os.listdir(dst)):
            raise FileExistsError(f"rename target exists and is non-empty: {dst}")
        if os.path.isdir(dst):
            os.rmdir(dst)  # empty dir: POSIX rename would replace it
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy2(src, dst)
        self._post_copy_hook(src, dst)
        if os.path.isdir(src):
            shutil.rmtree(src)
        else:
            os.remove(src)


STORE: LocalPosixStore = LocalPosixStore()


def set_store(store) -> None:
    """Swap the process-wide commit-metadata store (e.g. an object-store
    implementation honoring the contract above). Callers access the
    store as ``storage.STORE`` (module attribute, never from-imported),
    so the swap is visible everywhere immediately."""
    global STORE
    STORE = store
