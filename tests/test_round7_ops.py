"""Behavioral tests for the round-7 operators: CCNet per-language quality
buckets, DSIR importance weights, and per-source token-budget selection.
(Driver-gate oracle equivalence is covered by tests/test_workload.py; these
pin the semantics on hand-built inputs.)"""

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


# ---------------------------------------------------------------------------
# CCNet buckets


def test_ccnet_buckets_rank_by_fluency_within_lang(spark):
    """Docs made of corpus-common tokens score higher (less surprising)
    and land in 'head'; rare-token docs land in 'tail'; the tiling is
    PER LANGUAGE (each 3-doc language gets exactly one of each bucket)."""
    from execute_sync_spark.functions import text

    common = "the the the and and of"      # tokens repeated corpus-wide
    mid = "the and mixed rare1"
    rare = "zq1 zq2 zq3 zq4"               # singletons -> most surprising
    rows = [
        (1, common, "en", "s"), (2, mid, "en", "s"), (3, rare, "en", "s"),
        (4, common, "de", "s"), (5, mid, "de", "s"), (6, rare, "de", "s"),
    ]
    out = {r.doc_id: r for r in text.ccnet_buckets(_docs(spark, rows)).collect()}
    assert {d: out[d].bucket for d in out} == {
        1: "head", 2: "middle", 3: "tail", 4: "head", 5: "middle", 6: "tail",
    }
    # scores really order head > middle > tail within each language
    assert out[1].avg_logprob > out[2].avg_logprob > out[3].avg_logprob


def test_ccnet_buckets_equal_depth(spark):
    """NTILE(3) equal depth: 7 same-language docs split 3/2/2 with the
    remainder going to the earliest bucket (head)."""
    from execute_sync_spark.functions import text

    rows = [(i, f"tok{i} common common", "en", "s") for i in range(7)]
    out = text.ccnet_buckets(_docs(spark, rows)).groupBy("bucket").count().collect()
    assert {r.bucket: r["count"] for r in out} == {"head": 3, "middle": 2, "tail": 2}


# ---------------------------------------------------------------------------
# DSIR weights


def test_dsir_weights_prefer_target_like_docs(spark):
    """A doc written in target-distribution tokens must outweigh a doc of
    source-only tokens; weights are finite for tokens the target never
    saw (add-one smoothing)."""
    from execute_sync_spark.functions import curation

    rows = [
        (1, "alpha alpha beta", "en", "s"),   # target-like (en is the target)
        (2, "gamma gamma delta", "fr", "s"),  # source-only tokens
        (3, "alpha gamma", "fr", "s"),        # mixed
    ]
    docs = _docs(spark, rows)
    out = {
        r.doc_id: r.dsir_weight
        for r in curation.dsir_weights(docs, docs.filter(F.col("lang") == "en")).collect()
    }
    assert out[1] > out[3] > out[2]
    assert all(w is not None for w in out.values())


def test_dsir_weights_empty_target_is_uniform_target(spark):
    """An empty target corpus degrades to a UNIFORM target under add-one
    smoothing: weights stay finite (never NULL — the coalesce guard), and
    a doc of corpus-common tokens scores BELOW a doc with rare tokens
    (uniform target prefers what the source over-represents least)."""
    from execute_sync_spark.functions import curation

    docs = _docs(spark, [(1, "a b c", "en", "s"), (2, "a a a", "en", "s")])
    out = {
        r.doc_id: r.dsir_weight
        for r in curation.dsir_weights(docs, docs.filter(F.lit(False))).collect()
    }
    assert all(w is not None for w in out.values())
    assert out[1] > out[2]  # diverse doc beats the all-common-token doc


# ---------------------------------------------------------------------------
# token-budget selection


def test_token_budget_select_greedy_quality_first(spark):
    """Within a source, the highest-alpha-ratio docs fill the budget first;
    a doc is kept iff the RUNNING total stays within budget; other sources
    have independent budgets."""
    from execute_sync_spark.functions import curation

    rows = [
        (1, "aaaa bbbb", "en", "s1"),        # quality 8/9, 2 tokens
        (2, "cc dd 1234", "en", "s1"),       # digits lower quality, 3 tokens
        (3, "ee ff 99 88 77", "en", "s1"),   # lowest quality, 5 tokens
        (4, "gg hh", "en", "s2"),            # other source: own budget
    ]
    out = {r.doc_id: r for r in
           curation.token_budget_select(_docs(spark, rows), budget=5).collect()}
    # s1 fill order: doc1 (cum 2) -> doc2 (cum 5) -> doc3 (cum 10, over)
    assert (out[1].kept, out[2].kept, out[3].kept) == (True, True, False)
    assert out[4].kept  # s2's budget is its own
    assert out[2].cum_tokens == 5 and out[3].cum_tokens == 10


# ---------------------------------------------------------------------------
# incremental ANN index maintenance


def test_append_cell_index_equals_rebuild_and_replays_idempotently(spark, tmp_path):
    """Folding a new batch into the persisted IVF index must give probes
    the SAME results as a full rebuild over old+new, and replaying the
    same batch_id must overwrite itself (HourlyRollup idiom), never
    duplicate vectors. batch_id is required."""
    from tests.conftest import SF_DIR

    from execute_sync_spark.functions import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 8)
    q = emb.filter(F.col("vec_id") < 2)
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)

    idx = similarity.build_cell_index(old, centroids, str(tmp_path / "ivf"))
    touched = similarity.append_cell_index(new, centroids, idx, batch_id=7)
    assert touched  # the batch landed somewhere

    probe = lambda: sorted(map(tuple, similarity.ivf_topk_indexed(  # noqa: E731
        spark, idx, q, centroids, k=3, nprobe=2).collect()))
    full = similarity.build_cell_index(emb, centroids, str(tmp_path / "ivf_full"))
    want = sorted(map(tuple, similarity.ivf_topk_indexed(
        spark, full, q, centroids, k=3, nprobe=2).collect()))
    assert probe() == want

    # replay: same batch folds into the same partitions, results unchanged
    assert similarity.append_cell_index(new, centroids, idx, batch_id=7) == touched
    assert probe() == want

    import pytest

    with pytest.raises(ValueError, match="batch_id"):
        similarity.append_cell_index(new, centroids, idx, batch_id=None)


def test_append_pq_index_equals_rebuild(spark, tmp_path):
    """Same contract for the IVF+PQ code index: appended batches encode
    against the codebook PERSISTED IN the index, and probes agree exactly
    with a full rebuild; replay is idempotent."""
    from tests.conftest import SF_DIR

    from execute_sync_spark.functions import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 8)
    q = emb.filter(F.col("vec_id") < 2)
    cb = similarity.pq_codebook(emb.filter(F.col("vec_id") < 16))
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)

    idx = similarity.build_pq_index(old, centroids, cb, str(tmp_path / "pq"))
    similarity.append_pq_index(new, centroids, idx, batch_id="b1")
    similarity.append_pq_index(new, centroids, idx, batch_id="b1")  # replay

    full = similarity.build_pq_index(emb, centroids, cb, str(tmp_path / "pq_full"))
    got = sorted(map(tuple, similarity.ivfpq_topk_indexed(
        spark, idx, q, centroids, k=3, nprobe=2).collect()))
    want = sorted(map(tuple, similarity.ivfpq_topk_indexed(
        spark, full, q, centroids, k=3, nprobe=2).collect()))
    assert got == want


def test_streaming_embedding_feed_maintains_index(spark, tmp_path):
    """A streaming embedding feed wired into append_cell_index via
    foreachBatch (epoch id = batch_id) keeps the persisted IVF index
    identical to a full rebuild over everything seen — the live-index
    deployment shape: assignment per micro-batch, probes always
    partition-pruned, restarts safe because epoch replay overwrites
    itself."""
    import os

    from tests.conftest import SF_DIR

    from execute_sync_spark.functions import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 8)
    q = emb.filter(F.col("vec_id") < 2)

    src = str(tmp_path / "feed")
    os.makedirs(src)
    for i, pred in enumerate((F.col("vec_id") % 3 == 0, F.col("vec_id") % 3 == 1)):
        emb.filter(pred).coalesce(1).write.parquet(src + f"/b{i}")
    files = []
    for d in sorted(os.listdir(src)):
        for f in os.listdir(os.path.join(src, d)):
            if f.endswith(".parquet"):
                dst = os.path.join(src, f"{d}.parquet")
                os.rename(os.path.join(src, d, f), dst)
                files.append(dst)
    schema = spark.read.parquet(files[0]).schema

    idx = similarity.build_cell_index(
        emb.filter(F.col("vec_id") % 3 == 2), centroids, str(tmp_path / "ivf")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*.parquet")
    )
    sq = (
        stream.writeStream.foreachBatch(
            lambda df, epoch: similarity.append_cell_index(
                df, centroids, idx, batch_id=epoch
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(120)

    full = similarity.build_cell_index(emb, centroids, str(tmp_path / "ivf_full"))
    got = sorted(map(tuple, similarity.ivf_topk_indexed(
        spark, idx, q, centroids, k=3, nprobe=2).collect()))
    want = sorted(map(tuple, similarity.ivf_topk_indexed(
        spark, full, q, centroids, k=3, nprobe=2).collect()))
    assert got == want


def test_compact_index_preserves_probes_and_replay_idempotency(spark, tmp_path):
    """Compacting the live IVF index collapses each cell's batch partials
    into one __compacted__ partition WITHOUT changing probe results; a
    replay of an absorbed batch is skipped via the per-cell manifest
    (re-inserting would duplicate neighbors in top-k); fresh batches
    still fold in afterwards. Second compact is a no-op."""
    import os

    from tests.conftest import SF_DIR

    from execute_sync_spark.functions import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 8)
    q = emb.filter(F.col("vec_id") < 2)
    p0, p1, p2 = (emb.filter(F.col("vec_id") % 3 == i) for i in range(3))

    idx = similarity.build_cell_index(p0, centroids, str(tmp_path / "ivf"))
    assert similarity.append_cell_index(p1, centroids, idx, batch_id=1)

    probe = lambda path: sorted(map(tuple, similarity.ivf_topk_indexed(  # noqa: E731
        spark, path, q, centroids, k=3, nprobe=2).collect()))
    before = probe(idx)

    compacted = similarity.compact_index(spark, idx)
    assert compacted
    assert probe(idx) == before
    # physically: every cell dir now holds ONLY the compacted partition
    for cell in os.listdir(idx):
        if cell.startswith("cell_id="):
            batches = [b for b in os.listdir(os.path.join(idx, cell))
                       if b.startswith("batch_id=")]
            assert batches == ["batch_id=__compacted__"], (cell, batches)
    assert similarity.compact_index(spark, idx) == []

    # compact-then-replay: the absorbed batch is skipped, results stable
    assert similarity.append_cell_index(p1, centroids, idx, batch_id=1) == []
    assert probe(idx) == before

    # a genuinely new batch still folds in; matches the full rebuild
    assert similarity.append_cell_index(p2, centroids, idx, batch_id=2)
    full = similarity.build_cell_index(emb, centroids, str(tmp_path / "ivf_full"))
    assert probe(idx) == probe(full)


def test_compact_pq_index_keeps_codebook_and_probes(spark, tmp_path):
    """compact_index is schema-agnostic: on the IVF+PQ code index it
    preserves the persisted codebook and probe results, and the absorbed
    replay guard holds."""
    from tests.conftest import SF_DIR

    from execute_sync_spark.functions import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 8)
    q = emb.filter(F.col("vec_id") < 2)
    cb = similarity.pq_codebook(emb.filter(F.col("vec_id") < 16))

    idx = similarity.build_pq_index(
        emb.filter(F.col("vec_id") % 2 == 0), centroids, cb, str(tmp_path / "pq")
    )
    new = emb.filter(F.col("vec_id") % 2 == 1)
    similarity.append_pq_index(new, centroids, idx, batch_id="b1")

    probe = lambda: sorted(map(tuple, similarity.ivfpq_topk_indexed(  # noqa: E731
        spark, idx, q, centroids, k=3, nprobe=2).collect()))
    before = probe()
    assert similarity.compact_index(spark, idx)
    assert probe() == before  # codebook still loads from the index
    assert similarity.append_pq_index(new, centroids, idx, batch_id="b1") == []
    assert probe() == before


def test_corpus_stats_dup_ratio_and_volumes(spark):
    """Dataset-card stats: exact-dup ratio counts repeated text digests
    within the group; volumes and averages are per (lang, source)."""
    from execute_sync_spark.functions import text

    rows = [
        (1, "aa bb", "en", "s1"),
        (2, "aa bb", "en", "s1"),   # exact dup of doc 1
        (3, "cc dd ee", "en", "s1"),
        (4, "ff", "de", "s2"),
    ]
    out = {(r.lang, r.source): r for r in text.corpus_stats(_docs(spark, rows)).collect()}
    en = out[("en", "s1")]
    assert (en.n_docs, en.n_tokens, en.n_unique_texts) == (3, 7, 2)
    assert en.dup_ratio == pytest.approx(1 / 3, abs=1e-6)
    de = out[("de", "s2")]
    assert (de.n_docs, de.n_tokens, de.dup_ratio) == (1, 1, 0.0)


# ---------------------------------------------------------------------------
# containment pairs + time-interval rolling window


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    """A short doc fully quoted inside a much larger one: containment of
    the small side is 1.0 while Jaccard stays under the same threshold —
    the asymmetric case this operator exists for. Unrelated docs emit no
    pair."""
    from execute_sync_spark.functions import dedupe

    quote = "alpha beta gamma delta epsilon"           # 3 shingles (k=3)
    filler = " ".join(f"w{i}" for i in range(40))      # 38 novel shingles
    rows = [
        (1, quote, "en", "s"),
        (2, f"{filler} {quote}", "en", "s"),
        (3, "totally different text with nothing shared here", "en", "s"),
    ]
    docs = _docs(spark, rows)
    pairs = {(r.id_a, r.id_b): r for r in
             dedupe.containment_pairs(docs, threshold=0.5).collect()}
    assert set(pairs) == {(1, 2)}
    p = pairs[(1, 2)]
    assert p.containment_a == 1.0          # all of doc 1 is inside doc 2
    assert p.containment_b < 0.5           # doc 2 barely contains doc 1
    jac = {(r.id_a, r.id_b): r.jaccard for r in
           dedupe.ngram_jaccard_pairs(docs, threshold=0.0).collect()}
    assert jac[(1, 2)] < 0.5               # symmetric Jaccard under-reports


def test_rolling_revenue_time_frame(spark):
    """RANGE frame semantics: the 30-day trailing window includes same-day
    orders of the SAME day on both rows (range, not rows), drops orders
    older than 29 days, and customers don't leak into each other."""
    from execute_sync_spark.plans import workload

    rows = [
        (1, 100, "1995-01-01 00:00:00", 10.0),
        (2, 100, "1995-01-01 00:00:00", 5.0),    # same day, same cust
        (3, 100, "1995-01-30 00:00:00", 1.0),    # day 29: inside frame
        (4, 100, "1995-02-01 00:00:00", 2.0),    # day 31: first two expire
        (5, 200, "1995-01-01 00:00:00", 7.0),    # other customer
    ]
    orders = spark.createDataFrame(
        [(k, c, t, p) for k, c, t, p in rows],
        "o_orderkey long, o_custkey long, o_orderdate string, o_totalprice double",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))

    import os
    import tempfile

    d = tempfile.mkdtemp()
    orders.write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
    out = {r.o_orderkey: r for r in workload.q_rolling_revenue(spark, d).collect()}
    assert (out[1].rev_30d, out[1].n_orders_30d) == (15.0, 2)  # RANGE: both same-day rows
    assert (out[2].rev_30d, out[2].n_orders_30d) == (15.0, 2)
    assert (out[3].rev_30d, out[3].n_orders_30d) == (16.0, 3)
    assert (out[4].rev_30d, out[4].n_orders_30d) == (3.0, 2)   # day-1 orders expired
    assert (out[5].rev_30d, out[5].n_orders_30d) == (7.0, 1)


def test_index_stranded_cell_fails_loudly_and_sweep_recovers(spark, tmp_path, monkeypatch):
    """Crash inside compact_index's two-rename window: the cell vanishes
    from the live layout. Probes and appends must RAISE (silently probing
    around the cell returns wrong top-k) and sweep_index must
    forward-finish from the SAME run's staged output (manifest included)
    — after which probes agree with the pre-compact state and a replay of
    the absorbed batch is still skipped."""
    import os

    from tests.conftest import SF_DIR

    from execute_sync_spark.functions import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 8)
    q = emb.filter(F.col("vec_id") < 2)
    idx = similarity.build_cell_index(
        emb.filter(F.col("vec_id") % 2 == 0), centroids, str(tmp_path / "ivf")
    )
    new = emb.filter(F.col("vec_id") % 2 == 1)
    similarity.append_cell_index(new, centroids, idx, batch_id=1)
    before = sorted(map(tuple, similarity.ivf_topk_indexed(
        spark, idx, q, centroids, k=3, nprobe=2).collect()))

    real_rename = os.rename
    state = {"crashed": False}

    def crash_mid_swap(src, dst):
        real_rename(src, dst)
        if "_old_cell_" in os.path.basename(dst) and not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("simulated crash between the two renames")

    from execute_sync_spark.functions import index_commit

    monkeypatch.setattr("os.rename", crash_mid_swap)
    with pytest.raises(RuntimeError, match="simulated crash"):
        similarity.compact_index(spark, idx)
    monkeypatch.undo()

    with pytest.raises(RuntimeError, match="sweep_index"):
        similarity.ivf_topk_indexed(spark, idx, q, centroids, k=3, nprobe=2).collect()
    with pytest.raises(RuntimeError, match="sweep_index"):
        similarity.append_cell_index(new, centroids, idx, batch_id=2)
    with pytest.raises(RuntimeError, match="sweep_index"):
        similarity.compact_index(spark, idx)

    rep = similarity.sweep_index(idx)
    assert rep["restored"]
    got = sorted(map(tuple, similarity.ivf_topk_indexed(
        spark, idx, q, centroids, k=3, nprobe=2).collect()))
    assert got == before
    # the forward-finished cell carries its manifest: absorbed replay skips
    assert "1" in index_commit.absorbed(idx, index_commit.CELL_SPEC)
    assert similarity.sweep_index(idx) == {"restored": [], "reclaimed": []}


def test_index_root_manifest_fast_path(spark, tmp_path):
    """After a completed compaction the replay guard answers from the ONE
    root summary manifest (O(1), not O(cells)); the root is deleted first
    on the next compact so a crash degrades to the per-cell walk, never a
    stale fast answer."""
    import json
    import os

    from tests.conftest import SF_DIR

    from execute_sync_spark.functions import index_commit
    from execute_sync_spark.functions import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 8)
    idx = similarity.build_cell_index(
        emb.filter(F.col("vec_id") % 2 == 0), centroids, str(tmp_path / "ivf")
    )
    similarity.append_cell_index(
        emb.filter(F.col("vec_id") % 2 == 1), centroids, idx, batch_id=9
    )
    similarity.compact_index(spark, idx)
    root = os.path.join(idx, "_absorbed.json")
    assert os.path.isfile(root)
    assert "9" in json.load(open(root))["batches"]
    assert "9" in index_commit.absorbed(idx, index_commit.CELL_SPEC)
    # fast path really is the root file: poison it and watch the answer
    with open(root, "w") as f:
        json.dump({"batches": ["poisoned"]}, f)
    assert index_commit.absorbed(idx, index_commit.CELL_SPEC) == {"poisoned"}
    # without the root the per-cell walk still finds the truth
    os.remove(root)
    assert "9" in index_commit.absorbed(idx, index_commit.CELL_SPEC)


def test_recall_at_k_bounds_and_exhaustive_probe_is_perfect(spark):
    """recall@k ∈ [0,1] per query against the exact top-k; probing EVERY
    cell (nprobe = |cells|) must reach recall 1.0 for all queries (the
    ANN candidate set then equals the exact candidate set)."""
    from tests.conftest import SF_DIR

    from execute_sync_spark.functions import similarity
    from execute_sync_spark.plans import workload

    rows = workload.sim_recall_at_k(spark, SF_DIR).collect()
    assert rows and all(0.0 <= r.recall <= 1.0 and r.n_hits <= r.n_true for r in rows)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 8)
    q = emb.filter(F.col("vec_id") < 10)
    ann = similarity.ivf_topk_vectorized(emb, q, centroids, k=3, nprobe=8).select(
        "query_id", "neighbor_id"
    )
    exact = similarity.cosine_topk(emb, q, k=3).select("query_id", "neighbor_id")
    missed = exact.join(ann, ["query_id", "neighbor_id"], "left_anti").count()
    assert missed == 0  # exhaustive probe == exact
