"""Round-16 pins: ADVICE fixes + the round's new operators."""

from __future__ import annotations


# ---------------------------------------------------------------------------
# streaming-maintained NB quality classifier (the mixture-stats precedent)


def _nb_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _nb_rows(df):
    return sorted(map(tuple, df.collect()))


def test_stream_classifier_maintenance_equals_flat(spark, tmp_path):
    """After ANY prefix of micro-batches, score_from_stats over the
    documents delivered so far equals nb_quality_classifier run flat over
    the same documents — micro-batch cadence, restart, and duplicate
    delivery included. Exact equality: NB statistics are integer sums, and
    both paths share curation.nb_score_tf / nb_labeled_tf."""
    import os

    from pyspark.sql import functions as F

    from execute_sync_spark.functions import curation
    from execute_sync_spark.streaming.classifier import (
        score_from_stats,
        stream_classifier_maintenance,
        write_classifier_stats,
    )

    pos = F.col("lang") == "en"
    base = _nb_docs(spark, [
        (1, "the quick brown fox jumps", "en"),
        (2, "lorem ipsum dolor sit amet", "la"),
        (3, "the lazy dog sleeps", "en"),
    ])
    stats = str(tmp_path / "nb_stats")
    feed = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(feed)
    write_classifier_stats(base, pos, stats, "__base__")
    assert _nb_rows(score_from_stats(spark, stats, base, pos)) == _nb_rows(
        curation.nb_quality_classifier(base, pos)
    )

    # two feed files, drained one per micro-batch
    b1 = _nb_docs(spark, [(4, "the fox runs over the dog", "en")])
    b2 = _nb_docs(spark, [(5, "dolor amet the consectetur", "la"),
                          (6, "brown dog and quick fox", "en")])
    b1.coalesce(1).write.mode("append").parquet(feed)
    stream_classifier_maintenance(spark, feed, stats, ckpt, positive=pos)
    flat1 = base.unionByName(b1)
    assert _nb_rows(score_from_stats(spark, stats, flat1, pos)) == _nb_rows(
        curation.nb_quality_classifier(flat1, pos)
    )

    # restart with the same checkpoint: only the NEW file is processed
    b2.coalesce(1).write.mode("append").parquet(feed)
    stream_classifier_maintenance(spark, feed, stats, ckpt, positive=pos)
    flat2 = flat1.unionByName(b2)
    assert _nb_rows(score_from_stats(spark, stats, flat2, pos)) == _nb_rows(
        curation.nb_quality_classifier(flat2, pos)
    )

    # replayed batch overwrites itself: value-identical, never double-counted
    write_classifier_stats(base, pos, stats, "__base__")
    assert _nb_rows(score_from_stats(spark, stats, flat2, pos)) == _nb_rows(
        curation.nb_quality_classifier(flat2, pos)
    )

    # a NEW document with unseen tokens scores through the maintained model
    # (vocabulary = union vocabulary; unseen tokens drop from the tf join,
    # exactly as in the flat form)
    probe = _nb_docs(spark, [(99, "the unseen zebra and the fox", "en")])
    got = {r.doc_id: r.pred_hq for r in
           score_from_stats(spark, stats, probe, pos).collect()}
    want = {r.doc_id: r.pred_hq for r in
            curation.nb_quality_classifier(
                flat2.unionByName(probe), pos
            ).filter(F.col("doc_id") == 99).collect()}
    # note: flat retrain INCLUDES the probe in training; the invariant
    # pinned here is just that scoring an out-of-corpus doc works and is
    # deterministic
    assert set(got) == {99} and set(want) == {99}


def test_stream_classifier_starts_on_empty_feed(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from execute_sync_spark.streaming.classifier import (
        score_from_stats,
        stream_classifier_maintenance,
        write_classifier_stats,
    )

    pos = F.col("lang") == "en"
    feed = str(tmp_path / "empty_feed")
    os.makedirs(feed)
    stats = str(tmp_path / "stats")
    seed = _nb_docs(spark, [(1, "seed words here", "en"),
                            (2, "mots de graine", "fr")])
    write_classifier_stats(seed, pos, stats, "__base__")
    stream_classifier_maintenance(spark, feed, stats, str(tmp_path / "ck"),
                                  positive=pos)
    assert score_from_stats(spark, stats, seed, pos).count() == 2


def test_stream_classifier_continuous_returns_live_query(spark, tmp_path):
    """available_now=False must return a LIVE query (the ADVICE r14
    conditional-trigger contract shared by phash/clusters/mixture)."""
    import os

    from pyspark.sql import functions as F

    from execute_sync_spark.streaming.classifier import stream_classifier_maintenance

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    _nb_docs(spark, [(1, "alpha beta", "en")]).coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    q = stream_classifier_maintenance(
        spark, feed, str(tmp_path / "stats"), str(tmp_path / "ck"),
        positive=F.col("lang") == "en", available_now=False,
    )
    try:
        assert q.isActive  # a continuous stream, not drain-and-stop
    finally:
        q.stop()


def test_stage_stream_dir_accepts_relative_paths(tmp_path, monkeypatch):
    """A relative source path must not become a relative symlink TARGET
    (which would resolve against the temp dir -> broken links and a
    silently-empty stream)."""
    import os

    from execute_sync_spark.streaming.util import stage_stream_dir

    d = tmp_path / "src"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"x")
    monkeypatch.chdir(tmp_path)
    staged = stage_stream_dir("src", prefix="rel_")
    links = os.listdir(staged)
    assert links
    for f in links:
        assert os.path.exists(os.path.join(staged, f))  # not a broken link


def test_assign_cells_quantized_equals_expression_form(spark):
    """The BLAS quantized assign (curate_mixture_semantic's scale path)
    must agree EXACTLY with the expression form it replaced — crossJoin +
    6-dp-rounded HOF cosine + row_number(desc sim, asc cell) — including
    on a zero vector (NULL sims -> lowest cell, matching NaN->-inf argmax)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from execute_sync_spark.functions import similarity
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dim = len(emb.first()["v"])
    zero = spark.createDataFrame(
        [(100000, [0.0] * dim)], "vec_id long, v array<double>"
    )
    emb = emb.unionByName(zero)
    cent = emb.orderBy("vec_id").limit(6).select(
        F.row_number()
        .over(
            Window.partitionBy(
                F.substring(F.col("vec_id").cast("string"), 0, 0)
            ).orderBy("vec_id")
        )
        .cast("long")
        .alias("cell_id"),
        F.col("v").alias("cv"),
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cell_id",
        F.round(similarity.cosine(F.col("v"), F.col("cv")), 6).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cell_id"))
    expr = {
        (r.vec_id, r.cell_id)
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1).collect()
    }
    blas = {
        (r.vec_id, r.cell_id)
        for r in similarity.assign_cells_quantized(
            emb,
            cent.select(F.col("cell_id").alias("vec_id"), F.col("cv").alias("v")),
            id_col="vec_id", vec_col="v",
        ).collect()
    }
    assert blas == expr
    assert (100000, 1) in blas  # the zero vector fell to the lowest cell


# ---------------------------------------------------------------------------
# full-pipeline semantic invariants (the oracle hash pins exact values; these
# pin the MEANING, so they survive testdata regeneration)


def test_pipeline_full_semantic_invariants(spark):
    """curate_pipeline_full output must satisfy the pipeline's contract:
    no src0 (eval) docs, no exact-duplicate texts, no doc sharing >=2
    3-shingles with the eval set, every kept doc MAP-positive, per-source
    running totals within budget and consistent with n_tokens, and pack
    assignment consistent with the per-shard running sum."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from execute_sync_spark.functions import curation, dedupe
    from execute_sync_spark.plans.workload import (
        _docs_wide,
        curate_pipeline_full,
    )
    from tests.conftest import SF_DIR

    out = curate_pipeline_full(spark, SF_DIR).collect()
    assert out  # non-degenerate at the fixture SF
    docs = _docs_wide(spark, SF_DIR)
    rows = {r.doc_id: r for r in out}

    # 1. the eval source never leaks into the export
    assert all(r.source != "src0" for r in out)

    # 2. no two kept docs share identical text (exact dedup held through
    # the chain), and none is contaminated vs src0
    kept_ids = list(rows)
    texts = {
        r.doc_id: r.text
        for r in docs.filter(F.col("doc_id").isin(kept_ids)).collect()
    }
    assert len(set(texts.values())) == len(texts)
    contaminated = {
        r.train_id
        for r in dedupe.cross_contamination(
            docs.filter(F.col("doc_id").isin(kept_ids)),
            docs.filter(F.col("source") == "src0"),
            k=3,
            min_shared=2,
        ).collect()
    }
    assert not (contaminated & set(kept_ids))

    # 3. every kept doc is MAP-positive under the corpus-trained classifier
    scored = {
        r.doc_id: r
        for r in curation.nb_quality_classifier(
            docs, positive=F.col("lang") == "en"
        ).collect()
    }
    for r in out:
        assert scored[r.doc_id].pred_hq
        assert scored[r.doc_id].n_tokens == r.n_tokens

    # 4. budget fill: per source, running totals stay within budget and
    # equal the best-score-first cumulative sum of the kept rows
    by_src = defaultdict(list)
    for r in out:
        by_src[r.source].append(r)
    for src, group in by_src.items():
        group.sort(key=lambda r: (-r.nb_score, r.doc_id))
        running = 0
        for r in group:
            running += r.n_tokens
            assert r.running_tokens == running
            assert r.running_tokens <= r.budget_tokens

    # 5. packing: per shard, pack_id = floor(pre-sum / 2048) over doc_id
    # order, and shard = doc_id % 8
    by_shard = defaultdict(list)
    for r in out:
        assert r.shard == r.doc_id % 8
        by_shard[r.shard].append(r)
    for shard, group in by_shard.items():
        group.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in group:
            assert r.pack_id == cum // 2048
            cum += r.n_tokens


# ---------------------------------------------------------------------------
# shared-subtree materializations (optimization round 16): results identical


def test_ccnet_buckets_scored_param_equals_internal(spark):
    """Both CCNet tilings must return row-identical results whether they
    compute the per-doc LM-score relation themselves or receive it
    pre-materialized via ``scored=`` (the agreement row materializes it
    once and feeds both sides)."""
    from execute_sync_spark.functions import text as text_fns
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    scored = text_fns.ccnet_scored(docs).localCheckpoint(eager=True)
    for fn in (text_fns.ccnet_buckets, text_fns.ccnet_buckets_approx):
        own = sorted(map(tuple, fn(docs).collect()))
        shared = sorted(map(tuple, fn(docs, scored=scored).collect()))
        assert own == shared, fn.__name__


def test_backoff_lm_checkpointed_grams_matches_lazy_composition(spark):
    """backoff_lm (grams materialized once) must equal the lazy
    grams->counts->score composition it is built from."""
    from pyspark.sql import functions as F

    from execute_sync_spark.functions import text as text_fns
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    flt = F.col("source") != "src0"
    got = sorted(map(tuple, text_fns.backoff_lm(docs, train_filter=flt).collect()))
    g = text_fns.backoff_lm_grams(docs, flt)
    uni, bi, tri = text_fns.backoff_lm_counts(g)
    want = sorted(
        map(tuple, text_fns.backoff_lm_score(g, uni, bi, tri).collect())
    )
    assert got == want
