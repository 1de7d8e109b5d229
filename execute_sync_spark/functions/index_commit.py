"""The one recoverable commit protocol for partitioned, incrementally
maintained tables: batch append, compaction, stranded check and sweep.

Every client maintains a parquet tree whose LEAF partitions accumulate
per-batch sub-partitions and are periodically compacted with a
recoverable two-rename swap. A ``LeafSpec`` names one client's leaves
(their partition levels and aside-dir prefix); everything else is here:

- ``HourlyRollup`` (operators/rollup.py): ``day=<d>`` leaves, ``ROLLUP_SPEC``;
- IVF / IVF+PQ (functions/similarity.py): ``cell_id=<c>`` leaves, ``CELL_SPEC``;
- sign-LSH (functions/similarity.py): ``table=<t>/bucket=<b>`` leaves, ``LSH_SPEC``;
- pHash (functions/multimodal.py) and BM25 (functions/text.py) indexes.

The protocol: a dynamic-partition-overwrite append keyed on a
replay-stable batch_id; per-leaf ``_absorbed.json`` manifests plus an
O(1) root summary; a two-rename swap through root-level asides
(``<aside_prefix><leaf key>_<pid>``) from a ``<path>_compact_<pid>``
staging dir; and a sweep that forward-finishes from the same run's
staging dir, rolls back, or merges by coverage. One partition write per
batch, replay overwrites itself, compaction is O(dirty leaves) — which
keeps a streaming feed into a many-thousand-leaf table cheap at 100 TB.

All commit metadata goes through ``storage.STORE`` (see storage.py for
the rename/listdir/freshness contract); bulk parquet goes through Spark.
``compact`` and ``sweep`` report what they changed as one INFO record on
this module's logger (its ``index_commit`` attribute holds the fields),
built from what they already listed, so it costs no Spark job.
"""

from __future__ import annotations

import json
import logging
import os
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from execute_sync_spark import storage

MANIFEST = "_absorbed.json"
COMPACTED = "batch_id=__compacted__"

log = logging.getLogger(__name__)


@dataclass(frozen=True)
class LeafSpec:
    """Naming of one client's leaf partitions.

    ``levels``: partition column names above batch_id, outer first.
    ``aside_prefix``: root-level aside dir prefix for the two-rename swap.
    ``key_sep``: joins level VALUES into the aside key token; must not
    contain ``_`` (the pid is recovered with rsplit("_", 1)).
    """

    levels: tuple[str, ...]
    aside_prefix: str
    sweep_hint: str = "sweep"
    key_sep: str = "-"

    def rel(self, values: tuple[str, ...]) -> str:
        return os.path.join(*(f"{l}={v}" for l, v in zip(self.levels, values)))

    def key(self, values: tuple[str, ...]) -> str:
        return self.key_sep.join(values)

    def key_to_values(self, key: str) -> tuple[str, ...]:
        if len(self.levels) == 1:
            return (key,)
        return tuple(key.split(self.key_sep))

    def aside_name(self, key: str, pid) -> str:
        return f"{self.aside_prefix}{key}_{pid}"

    def parse_aside(self, name: str) -> tuple[str, str] | None:
        """aside dir name -> (leaf key, pid), or None if not an aside."""
        if not name.startswith(self.aside_prefix):
            return None
        rest = name[len(self.aside_prefix):]
        key, _, pid = rest.rpartition("_")
        if not key or not pid:
            return None
        return key, pid


ROLLUP_SPEC = LeafSpec(levels=("day",), aside_prefix="_old_day_", sweep_hint="sweep()")
CELL_SPEC = LeafSpec(levels=("cell_id",), aside_prefix="_old_cell_", sweep_hint="sweep_index()")
LSH_SPEC = LeafSpec(levels=("table", "bucket"), aside_prefix="_old_tb_", sweep_hint="sweep_lsh_index()")
PHASH_SPEC = LeafSpec(
    levels=("ci", "cj", "vb"), aside_prefix="_old_ph_", sweep_hint="sweep_phash_index()"
)
BM25_SPEC = LeafSpec(
    levels=("tb",), aside_prefix="_old_tok_", sweep_hint="sweep_bm25_index()"
)


def _iter_leaves(fs, path: str, spec: LeafSpec) -> list[tuple[str, ...]]:
    """All live leaf value-tuples under ``path`` (walks the level dirs;
    O(leaves) listings, only metadata, never data)."""
    frontier: list[tuple[tuple[str, ...], str]] = [((), path)]
    for level in spec.levels:
        nxt = []
        for values, p in frontier:
            if not fs.isdir(p):
                continue
            for n in fs.listdir(p):
                if n.startswith(f"{level}=") and fs.isdir(os.path.join(p, n)):
                    nxt.append((values + (n[len(level) + 1:],), os.path.join(p, n)))
        frontier = nxt
    return [values for values, _ in frontier]


def _listed(fs, manifest: str) -> set[str] | None:
    """The batch ids a manifest lists; None when it is missing or unreadable."""
    try:
        return set(json.loads(fs.read_text(manifest)).get("batches", []))
    except (OSError, ValueError):
        return None


def _batch_ids(names) -> set[str]:
    """The uncompacted batch ids among a leaf dir's entries."""
    return {
        n[len("batch_id="):] for n in names if n.startswith("batch_id=") and n != COMPACTED
    }


def _leaf_union(fs, path: str, spec: LeafSpec) -> set[str]:
    """Union of every live leaf's manifest (the per-leaf walk)."""
    out: set[str] = set()
    for values in _iter_leaves(fs, path, spec):
        p = os.path.join(path, spec.rel(values), MANIFEST)
        if fs.isfile(p):
            out |= _listed(fs, p) or set()
    return out


def absorbed(path: str, spec: LeafSpec) -> set[str]:
    """Batch ids already folded into compacted leaf partitions anywhere in
    the table. O(1) fast path via the root summary manifest ``compact``
    writes LAST (and deletes FIRST — its presence implies completeness);
    fallback is the per-leaf walk, which is what keeps the per-append
    replay guard safe after a mid-compact crash."""
    fs = storage.STORE
    if not fs.isdir(path):
        return set()
    root = os.path.join(path, MANIFEST)
    if fs.isfile(root):
        listed = _listed(fs, root)
        if listed is not None:
            return listed
    return _leaf_union(fs, path, spec)  # no or unreadable summary


def check_layout(path: str, spec: LeafSpec) -> None:
    """Refuse to append into a LEGACY layout whose leaves hold data files
    directly (no ``batch_id=`` sub-partitions): mixing the two layouts in
    one tree makes Spark's partition discovery reject the whole table on
    the NEXT read, long after the append succeeded — fail loudly at
    append time instead (ADVICE r7, generalized). Scans ALL leaves so an
    already-mixed tree can't pass on listing order (ADVICE r8)."""
    fs = storage.STORE
    if not fs.isdir(path):
        return
    for values in _iter_leaves(fs, path, spec):
        p = os.path.join(path, spec.rel(values))
        entries = fs.listdir(p)
        has_batch = any(e.startswith("batch_id=") for e in entries)
        has_flat = any(e.endswith(".parquet") and not e.startswith(".") for e in entries)
        if has_flat and not has_batch:
            raise ValueError(
                f"index at {path} uses a legacy layout (leaf "
                f"{spec.rel(values)} holds data files with no batch_id= "
                "sub-partitions); appending would create a mixed layout "
                "that Spark's partition discovery rejects on the next "
                "read. Rebuild the index first."
            )


def stranded(path: str, spec: LeafSpec) -> list[str]:
    """Aside dirs whose live leaf is missing — a crash inside compact's
    two-rename window. Reading around such a leaf silently returns wrong
    results and its manifest is unreachable, so read/append paths must
    fail loudly on these (callers use :func:`check_not_stranded`)."""
    fs = storage.STORE
    out: list[str] = []
    if not fs.isdir(path):
        return out
    for n in fs.listdir(path):
        parsed = spec.parse_aside(n)
        if parsed is None:
            continue
        key, _ = parsed
        live = os.path.join(path, spec.rel(spec.key_to_values(key)))
        if not fs.isdir(live):
            out.append(n)
    return out


def check_not_stranded(path: str, spec: LeafSpec) -> None:
    s = stranded(path, spec)
    if s:
        raise RuntimeError(
            f"{path} has leaves stranded by an interrupted "
            f"compaction ({s[:3]}{'...' if len(s) > 3 else ''}); run "
            f"{spec.sweep_hint} to restore or reclaim them before reading "
            "or appending"
        )


def append(
    df,
    path: str,
    spec: LeafSpec,
    batch_id,
) -> list[tuple[str, ...]]:
    """Land one batch's pre-assigned rows (``df`` must already carry the
    spec's level columns) under (``*levels``, batch_id) partitions with
    DYNAMIC partition overwrite: a replay of the same batch_id overwrites
    its own partitions instead of duplicating rows, which is why batch_id
    is REQUIRED (a foreachBatch epoch id is exactly right).

    A replay after a compaction skips exactly the touched leaves that
    already hold the batch — listed in their own manifest, or still as
    their ``batch_id=`` dir — and writes the rest: a dynamic-overwrite
    commit that died partway through its partition moves left some leaves
    without the batch, and a compact before the replay must not make them
    unreachable. The root summary answers "absorbed nowhere" in O(1), so a
    first delivery reads no leaf manifest. Returns the leaf value-tuples
    written (empty when there was nothing left to write)."""
    if batch_id is None:
        raise ValueError(
            "append requires a replay-stable batch_id (e.g. the "
            "foreachBatch epoch id); without one a replayed batch would "
            "insert duplicate rows"
        )
    check_not_stranded(path, spec)
    check_layout(path, spec)
    bid = str(batch_id)
    replay = bid in absorbed(path, spec)
    rows = df.withColumn("batch_id", F.lit(bid))
    rows.persist()
    try:
        touched = sorted(
            tuple(str(r[l]) for l in spec.levels)
            for r in rows.select(*spec.levels).distinct().collect()
        )
        if replay:
            touched = [v for v in touched if not _holds(os.path.join(path, spec.rel(v)), bid)]
        if not touched:
            return []
        (
            (rows.filter(_leaf_filter(spec, touched)) if replay else rows)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*spec.levels, "batch_id")
            .parquet(path)
        )
    finally:
        rows.unpersist()
    return touched


def _holds(leaf: str, bid: str) -> bool:
    """Whether a leaf already holds batch ``bid``: folded into its
    compacted partition, or as its own committed partition dir."""
    fs = storage.STORE
    return bid in (_listed(fs, os.path.join(leaf, MANIFEST)) or ()) or fs.isdir(
        os.path.join(leaf, f"batch_id={bid}")
    )


def _leaf_filter(spec: LeafSpec, leaves: list[tuple[str, ...]]):
    """Partition-prunable predicate selecting exactly these leaves: an OR
    of per-leaf conjunctions of ``level = literal`` (each term is a plain
    equality on a partition column, so the scan prunes to the dirty
    leaves — never a full-table read)."""
    cond = None
    for values in leaves:
        leaf = None
        for level, v in zip(spec.levels, values):
            term = F.col(level).cast("string") == v
            leaf = term if leaf is None else (leaf & term)
        cond = leaf if cond is None else (cond | leaf)
    return cond


def compact(spark, path: str, spec: LeafSpec, fold=lambda rows: rows) -> list[tuple[str, ...]]:
    """Collapse each dirty leaf's batch partitions into a single
    ``batch_id=__compacted__`` partition — bounds small-file growth on a
    live table; O(dirty leaves), not O(table). ``fold`` maps the dirty
    leaves' merged rows (batch_id dropped) to what the compacted
    partition holds: the identity for an index, the sum of partials for
    a rollup. Each swapped leaf carries an ``_absorbed.json`` manifest of
    every batch id folded in, so replays of absorbed batches are skipped
    by :func:`append`; the per-leaf commit is the recoverable two-rename
    swap (crash inside the window strands the leaf in a ``_``-prefixed
    root aside the reader ignores — :func:`sweep` restores or reclaims).
    Returns the compacted leaf value-tuples, sorted."""
    fs = storage.STORE
    if not fs.isdir(path):
        return []
    # the dirty scan is the first listing: a leaf a lagging listing hides
    # is compacted next round, and a compact that writes nothing needs no
    # stranded check
    dirty = sorted(
        values for values in _iter_leaves(fs, path, spec)
        if _batch_ids(fs.listdir(os.path.join(path, spec.rel(values))))
    )
    if not dirty:
        return []
    check_not_stranded(path, spec)
    # the root summary manifest is about to go stale: remove it FIRST so a
    # crash mid-compact degrades absorbed() to the (correct) per-leaf walk
    # instead of serving a stale O(1) answer that lets replays through
    root_manifest = os.path.join(path, MANIFEST)
    try:
        fs.remove(root_manifest)
    except OSError:
        pass
    merged = fold(
        spark.read.parquet(path)
        .filter(_leaf_filter(spec, dirty))  # partition-pruned read
        .drop("batch_id")
    ).withColumn("batch_id", F.lit("__compacted__"))
    tmp = f"{path}_compact_{os.getpid()}"
    merged.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy(*spec.levels, "batch_id").parquet(tmp)
    for values in dirty:
        rel = spec.rel(values)
        live = os.path.join(path, rel)
        batches = _batch_ids(fs.listdir(live)) | (
            _listed(fs, os.path.join(live, MANIFEST)) or set()
        )
        src = os.path.join(tmp, rel)
        fs.write_text(
            os.path.join(src, MANIFEST), json.dumps({"batches": sorted(batches)})
        )
        aside = os.path.join(path, spec.aside_name(spec.key(values), os.getpid()))
        fs.rename(live, aside)
        try:
            # rename preserves mtime — stamp the aside NOW so a concurrent
            # guarded sweep in another process sees it as fresh (ADVICE r8)
            fs.utime(aside)
        except OSError:
            pass
        fs.rename(src, live)
        fs.rmtree(aside)
    fs.rmtree(tmp)
    # root summary manifest LAST (union over every leaf) — the O(1) answer
    # for the per-append replay guard; its presence implies completeness
    fs.write_text(
        root_manifest, json.dumps({"batches": sorted(_leaf_union(fs, path, spec))})
    )
    record = {
        "event": "compact", "aside_prefix": spec.aside_prefix, "path": path,
        "compacted": [spec.key(v) for v in dirty],
    }
    log.info(
        "compact %(path)s (%(aside_prefix)s): compacted %(compacted)s",
        record, extra={"index_commit": record},
    )
    return dirty


def old_enough(p: str, min_age_s: float, now: float) -> bool:
    """The multi-process sweep guard: True when ``p`` is older than
    ``min_age_s`` by the store's freshness clock. An unguarded sweep
    (``min_age_s <= 0``) processes every dir and never stats; on a
    guarded sweep a stat failure skips the dir this round rather than
    reclaim a possibly-fresh dir of a live commit (ADVICE r8/r9)."""
    if min_age_s <= 0:
        return True
    try:
        return now - storage.STORE.freshness(p) >= min_age_s
    except OSError:
        return False


def sweep(path: str, spec: LeafSpec, min_age_s: float = 0.0) -> dict[str, list[str]]:
    """Restore or reclaim dirs stranded by a crash inside :func:`compact`'s
    two-rename window: a leaf whose live dir vanished is forward-finished
    ONLY from the SAME compact run's staging dir (pid in the aside name
    matches the ``{path}_compact_<pid>`` suffix) and only if that staged
    leaf already carries its manifest — any other staging dir is a stale
    snapshot from an earlier crashed run and restoring it would silently
    drop appended batches; otherwise the aside rolls back. When the LIVE
    dir reappeared inside the window (a concurrent writer), the aside is
    reclaimed only to the extent live's batch dirs + manifest COVER it —
    uncovered batches merge back in, so a concurrent APPENDER's recreated
    leaf (round-13 fault axis) never costs the pre-compact batches.
    Leftover asides and staging tmps are reclaimed.

    ``min_age_s`` guards a MULTI-PROCESS deployment: another process
    mid-compact has FRESH asides and a fresh staging dir — sweep only
    touches dirs older than this (see :func:`old_enough`). Set it above a
    compact's expected duration when sweeping a shared table."""
    fs = storage.STORE
    restored: list[str] = []
    reclaimed: list[str] = []
    if not fs.isdir(path):
        return {"restored": restored, "reclaimed": reclaimed}
    now = time.time()

    # evaluate staging-dir eligibility BEFORE the aside loop: a
    # forward-finish rename out of a staging dir bumps its mtime past
    # ``now``, which would wrongly exempt it from the cleanup below
    parent = os.path.dirname(path) or "."
    base = os.path.basename(path)
    old_stagings = [
        n
        for n in sorted(fs.listdir(parent))
        if n.startswith(base + "_compact_")
        and fs.isdir(os.path.join(parent, n))
        and old_enough(os.path.join(parent, n), min_age_s, now)
    ]

    for n in sorted(fs.listdir(path)):
        parsed = spec.parse_aside(n)
        if parsed is None:
            continue
        aside = os.path.join(path, n)
        # no isdir() pre-check here: at min_age_s=0 the sweep must touch
        # every aside WITHOUT a stat (ADVICE r8 — isdir swallows a
        # transient stat failure into a silent skip)
        if not old_enough(aside, min_age_s, now):
            continue
        key, pid = parsed
        rel = spec.rel(spec.key_to_values(key))
        live = os.path.join(path, rel)
        if fs.isdir(live):
            (restored if _merge_uncovered(fs, aside, live, rel) else reclaimed).append(n)
            continue
        staged = os.path.join(f"{path}_compact_{pid}", rel)
        if fs.isdir(staged) and fs.isfile(os.path.join(staged, MANIFEST)):
            fs.rename(staged, live)
            fs.rmtree(aside)
        else:
            fs.rename(aside, live)
        restored.append(n)
    for n in old_stagings:
        p = os.path.join(parent, n)
        if fs.isdir(p):
            fs.rmtree(p)
            reclaimed.append(n)
    if restored or reclaimed:
        record = {
            "event": "sweep", "aside_prefix": spec.aside_prefix, "path": path,
            "restored": restored, "reclaimed": reclaimed,
        }
        log.info(
            "sweep %(path)s (%(aside_prefix)s): restored %(restored)s, reclaimed %(reclaimed)s",
            record, extra={"index_commit": record},
        )
    return {"restored": restored, "reclaimed": reclaimed}


def _merge_uncovered(fs, aside: str, live: str, rel: str) -> bool:
    """Resolve an aside whose live leaf reappeared inside the swap window,
    then remove the aside; True when anything moved back into live.

    A reappeared live dir has TWO explanations, and they demand opposite
    recoveries: a winning concurrent COMPACTOR (live is complete — its
    manifest covers every batch the aside holds; the aside is debris) or
    a concurrent APPENDER (live holds ONLY the new batch; blind reclaim
    would silently drop every pre-compact batch). Decide by COVERAGE, not
    existence: reclaim only what live provably covers (raw batch_id dirs
    + its manifest ledger) and move the uncovered remainder back in —
    batch dirs are disjoint by name, so the merges are collision-free
    renames."""
    live_names = set(fs.listdir(live))
    live_manifest = os.path.join(live, MANIFEST)
    ledger = _listed(fs, live_manifest) or set()
    covered = _batch_ids(live_names) | ledger
    moved = False
    moved_folded: set[str] = set()
    for b in sorted(fs.listdir(aside)):
        if not b.startswith("batch_id="):
            continue
        if b == COMPACTED:
            folded = _listed(fs, os.path.join(aside, MANIFEST)) or set()
            if folded and folded <= covered:
                continue  # live's ledger covers it: safe debris
            if COMPACTED in live_names:
                # both sides compacted yet live does not cover the aside —
                # only reachable with a damaged manifest; surface it
                # instead of guessing which copy wins
                raise RuntimeError(
                    f"sweep: leaf {rel} has compacted data in both the live "
                    f"dir and aside {os.path.basename(aside)} and the live "
                    "manifest does not cover the aside — manual "
                    "reconciliation required"
                )
            moved_folded = folded
        elif b[len("batch_id="):] in covered:
            continue
        fs.rename(os.path.join(aside, b), os.path.join(live, b))
        moved = True
    if moved:
        # carry the replay ledger with the data it describes: a moved
        # __compacted__ dir's manifest lists the batches folded into it —
        # without it a later replayed append of one of those batch_ids
        # would not be absorbed and would duplicate its rows (ADVICE r13)
        if not fs.isfile(live_manifest):
            try:
                fs.rename(os.path.join(aside, MANIFEST), live_manifest)
            except OSError:
                pass
        elif moved_folded:
            # live already has a manifest (the appender path never writes
            # one, so this is a live COMPACTED leaf state): MERGE the
            # aside's folded-batches ledger instead of discarding it
            fs.write_text(
                live_manifest, json.dumps({"batches": sorted(ledger | moved_folded)})
            )
    fs.rmtree(aside)
    return moved
