"""The reference's ELT job, run and checked from outside the program.

One pass follows a landing table through its life, into an empty
``ParquetSink`` and ``WatermarkStore``: a ``force`` refresh lands a backlog
of a few large pages (bytes-driven: parse, chunk split, parquet write);
``sync_once`` then lands small incremental pages behind the watermark (the
steady state, driven by the fixed cost per page); the watermark is rewound
one page and the last page is synced again (the crash-replay path, which
the sink's transaction marker absorbs); ``prune`` compacts superseded
copies; ``create_views`` builds the view forest and every view is read to a
small aggregate. Every step is compared with the outcome ``feed.expected``
computes for the feed.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import execute_sync_spark.operators.dedup as dedup_mod
import execute_sync_spark.operators.views as views_mod
import execute_sync_spark.sources.sync as sync_mod
from execute_sync_spark.schema.model import parse_root_schema
from execute_sync_spark.sinks import ParquetSink
from execute_sync_spark.sources import FileFeedSource, WatermarkStore, sync_once

from perfbench import feed
from perfbench.spans import Tracer, patched
from perfbench.stats import Outcomes, storage_ratio

# A page commit costs about a second at local[4] whatever its size, so the
# pass is sized to fit a run: the leading BACKLOG_PAGES large pages are the
# backlog, the rest are incremental.
SPEC = feed.FeedSpec(page_docs=(3000, 3000) + (150,) * 5, chunk_size=20, ticket_lines=(5, 60))
BACKLOG_PAGES = 2


@dataclass
class Inputs:
    backlog_dir: str  # the backlog pages
    feed_dir: str  # every page
    backlog_docs: int
    ndjson_bytes: int
    expected: feed.Expected
    chunk_size: int


@dataclass
class PassResult:
    wall_s: float
    op_ms: dict[str, float]  # page -> commit ms
    attempted: int
    failed: int
    errors: list[str]
    stages: dict[str, float]
    counts: dict[str, float] = field(default_factory=dict)  # traced passes only
    root_span: int | None = None


def prepare(seed: int, work_dir: str) -> Inputs:
    """Generate the feed for ``seed`` and its expected outcome."""
    pages, docs = feed.generate(seed, SPEC)
    shutil.rmtree(work_dir, ignore_errors=True)
    backlog_dir, feed_dir = os.path.join(work_dir, "backlog"), os.path.join(work_dir, "all")
    feed.write_feed(backlog_dir, pages[:BACKLOG_PAGES])
    nbytes = feed.write_feed(feed_dir, pages)
    backlog_docs = sum(1 for p in docs[:BACKLOG_PAGES] for d in p if d is not None)
    return Inputs(backlog_dir, feed_dir, backlog_docs, nbytes,
                  feed.expected(docs, SPEC.chunk_size), SPEC.chunk_size)


class _TimedSource:
    """Delegates to a source and records when each page was requested."""

    def __init__(self, inner, tracer: Tracer):
        self.inner, self.tracer = inner, tracer
        self.requested: list[float] = []
        self.lines = 0

    def pages(self, since):
        it = self.inner.pages(since)
        while True:
            self.requested.append(time.perf_counter())
            with self.tracer.span("sources.fetch"):
                page = next(it, None)
            if page is None:
                self.requested.pop()
                return
            self.lines += len(page.lines)
            yield page


class _TimedStore:
    """Delegates to a WatermarkStore and records when each mark was saved."""

    def __init__(self, inner: WatermarkStore, tracer: Tracer):
        self.inner, self.tracer = inner, tracer
        self.saved: list[tuple[str, float]] = []

    def load(self, force: bool = False) -> str:
        return self.inner.load(force=force)

    def save(self, mark: str) -> None:
        with self.tracer.span("sources.watermark_save"):
            self.inner.save(mark)
        self.saved.append((mark, time.perf_counter()))


class _TimedSink:
    """Delegates ``append`` to a ParquetSink and records what it returned."""

    def __init__(self, inner: ParquetSink, tracer: Tracer):
        self.inner, self.tracer = inner, tracer
        self.appended: list[int] = []

    def append(self, landed, txn_id=None) -> int:
        with self.tracer.span("sinks.append"):
            n = self.inner.append(landed, txn_id=txn_id)
        self.appended.append(n)
        return n


def table_files(path: str) -> dict[str, int]:
    """Data files of a landing table: relative path -> bytes."""
    out = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                p = os.path.join(root, f)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def _layer_targets():
    """Program functions wrapped in spans during a traced pass."""
    return [
        (sync_mod, "land_ndjson_lines", "landing.build"),
        (views_mod, "doc_type_struct", "schema.compile"),
        (dedup_mod, "latest_all_versions", "operators.dedup"),
        (dedup_mod, "latest", "operators.dedup"),
        (dedup_mod, "superseded_rows", "operators.dedup"),
    ]


def run_pass(spark, inputs: Inputs, work_dir: str, tracer: Tracer) -> PassResult:
    """One pass of the job. Its operations are each page commit, the feed
    as a whole (lines fetched), the landed table (traced passes only), the
    replay, the prune and each view read."""
    exp = inputs.expected
    out = Outcomes()
    op_ms: dict[str, float] = {}
    counts: dict[str, float] = {}
    shutil.rmtree(work_dir, ignore_errors=True)
    table = os.path.join(work_dir, "warehouse")
    base_sink = ParquetSink(spark, table)
    state = WatermarkStore(os.path.join(work_dir, "state"))
    with patched(tracer, _layer_targets() if tracer.enabled else []):
        t0 = time.perf_counter()
        with tracer.span("bench.job") as root:
            store, sink = _TimedStore(state, tracer), _TimedSink(base_sink, tracer)
            backlog = _TimedSource(FileFeedSource(inputs.backlog_dir), tracer)
            with tracer.span("sources.sync_once"):
                sync_once(spark, backlog, sink, store, force=True, chunk_size=inputs.chunk_size)
            t_backlog = time.perf_counter()
            increments = _TimedSource(FileFeedSource(inputs.feed_dir), tracer)
            with tracer.span("sources.sync_once"):
                sync_once(spark, increments, sink, store, chunk_size=inputs.chunk_size)
            t_sync = time.perf_counter()
            requested = backlog.requested + increments.requested
            pages = len(exp.page_rows)
            for i in range(pages):
                op = f"page {i}"
                out.attempt(op)
                if i >= len(store.saved) or i >= len(sink.appended):
                    out.check(op, False, "not committed")
                    continue
                mark, saved_at = store.saved[i]
                op_ms[op] = (saved_at - requested[i]) * 1000
                out.check(op, mark == feed.page_name(i), f"watermark {mark}")
                out.check(op, sink.appended[i] == exp.page_rows[i],
                          f"landed {sink.appended[i]} rows, expected {exp.page_rows[i]}")
            lines = backlog.lines + increments.lines
            out.attempt("feed")
            out.check("feed", lines == exp.lines, f"fetched {lines} lines, expected {exp.lines}")
            if tracer.enabled:
                with tracer.span("bench.inspect"):
                    before = table_files(table)
                    row = spark.read.parquet(table).agg(
                        F.count(F.lit(1)).alias("rows"),
                        F.sum((F.col("chunk") > 0).cast("long")).alias("chunks"),
                    ).first()
                chunks = row.chunks or 0
                out.attempt("landed table")
                out.check("landed table", (row.rows - chunks, chunks) == (exp.docs, exp.chunk_rows),
                          f"{row.rows - chunks} docs and {chunks} chunk rows, "
                          f"expected {exp.docs} and {exp.chunk_rows}")
                counts["landing.chunk_rows"] = chunks
                counts["landing.useful_ratio"] = (row.rows - chunks) / lines
                counts["sinks.bytes_written"] = sum(before.values())
                counts["sinks.files_written"] = len(before)

            # crash replay: the watermark was not saved for the last page
            out.attempt("replay")
            state.save(feed.page_name(pages - 2))
            replay_sink = _TimedSink(base_sink, tracer)
            with tracer.span("sources.sync_once"):
                replayed = sync_once(spark, _TimedSource(FileFeedSource(inputs.feed_dir), tracer),
                                     replay_sink, _TimedStore(state, tracer), chunk_size=inputs.chunk_size)
            out.check("replay", replayed == 0, f"landed {replayed} rows, expected 0")
            out.check("replay", state.load() == exp.watermark, f"final watermark {state.load()}")
            counts["sinks.replay_absorbed"] = sum(1 for n in replay_sink.appended if n == 0)
            counts["landing.rows_landed"] = sum(sink.appended) + replayed
            t_replay = time.perf_counter()

            out.attempt("prune")
            if tracer.enabled:
                with tracer.span("bench.inspect"):
                    before = table_files(table)
            with tracer.span("operators.prune"):
                removed = base_sink.prune()
            out.check("prune", removed == exp.rows_removed, f"removed {removed} rows, expected {exp.rows_removed}")
            t_prune = time.perf_counter()
            if tracer.enabled:
                with tracer.span("bench.inspect"):
                    after = table_files(table)
                changed = {os.path.dirname(p) for p in set(before) ^ set(after)}
                counts["operators.rows_removed"] = removed
                counts["operators.partitions_rewritten"] = len(changed)
                counts["operators.bytes_rewritten"] = sum(b for p, b in after.items() if p not in before)

            with tracer.span("operators.views_build"):
                with tracer.span("schema.compile"):
                    root_schema = parse_root_schema(feed.SCHEMA)
                views = base_sink.create_views(root_schema)
            view_rows = 0
            for view, col in feed.VIEW_CHECKS.items():
                op = f"view {view}"
                out.attempt(op)
                if view not in views:
                    out.check(op, False, "missing")
                    continue
                with tracer.span("operators.views_read"):
                    got = spark.table(view).agg(
                        F.count(F.lit(1)).alias("n"), F.sum(F.col(col).cast("long")).alias("s")
                    ).first()
                view_rows += got.n
                out.check(op, (got.n, got.s or 0) == (exp.view_rows[view], exp.view_sums[view]),
                          f"({got.n}, {got.s}) expected ({exp.view_rows[view]}, {exp.view_sums[view]})")
            counts["operators.views_rows"] = view_rows
        t_end = time.perf_counter()
    parquet_bytes = sum(table_files(table).values())
    shutil.rmtree(work_dir, ignore_errors=True)
    stages = {
        "backlog_sync_s": t_backlog - t0,
        "incremental_sync_s": t_sync - t_backlog,
        "replay_s": t_replay - t_sync,
        "prune_s": t_prune - t_replay,
        "views_s": t_end - t_prune,
        "backlog_docs_per_s": inputs.backlog_docs / (t_backlog - t0),
        "storage_ratio": storage_ratio(parquet_bytes, inputs.ndjson_bytes),
    }
    return PassResult(t_end - t0, op_ms, out.attempted, out.failed, out.errors, stages, counts,
                      root.id if root is not None else None)
