"""Similarity search over an embedding column (``array<float>``).

- ``cosine_topk``: brute-force exact top-k — broadcast the (small) query set
  against the corpus; dot products computed JVM-side with zip_with/aggregate
  (no Python, no UDF). At 100 TB the corpus side stays partitioned and the
  query side broadcasts: the join is a broadcast-nested-loop whose cost is
  |corpus| * |queries| dot products, embarrassingly parallel, no shuffle of
  the corpus. The only shuffle is the final per-query top-k (tiny).
- ``ivf_topk``: the scale path — partition the corpus into cells by nearest
  centroid (one pass), then probe only the query's cell(s). Centroid
  assignment is the same broadcast pattern; the probe prunes the corpus by
  cell id. With a parquet/Delta table partitioned by cell id this becomes
  partition pruning at the scan.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.errors import AnalysisException

from execute_sync_spark import storage
from execute_sync_spark.functions import index_commit


def _np_round_half_up(x, decimals: int = 4):
    """HALF_UP rounding for numpy arrays, matching Spark F.round and DuckDB
    ROUND (np.round is banker's half-to-even, which diverges on exact .xxxx5
    boundaries). Away-from-zero on ties, sign-symmetric."""
    import numpy as np

    scale = 10.0**decimals
    return np.sign(x) * np.floor(np.abs(x) * scale + 0.5) / scale


def _desc_nulls_last(x):
    """Sort key for descending similarity pinning the zero-vector contract
    (ADVICE r5): a zero embedding scores NULL — ``cosine()``'s CASE guard
    yields NULL on the expression path (required under Spark 4 ANSI, where
    bare 0/0 throws), the BLAS batches' NaN becomes NULL through the Arrow
    round-trip, and DuckDB's 0.0/0.0 IS NULL — and NULL ranks LAST under
    DESC in all three (Spark desc = NULLS LAST, DuckDB default, and
    np.lexsort sorts NaN last even negated). Plain negation is exactly that
    key; the wrapper exists so the contract is named and regression-tested
    (test_round2_ops.py) rather than an accident of -NaN being NaN."""
    return -x


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    # zero vectors yield NULL (matching DuckDB's 0.0/0.0 and the Arrow
    # NaN->NULL round-trip on the BLAS twins; see _desc_nulls_last) — the
    # guard is also required under Spark 4 ANSI mode, where a bare x/0
    # throws DIVIDE_BY_ZERO instead of producing NaN. try_divide, not a
    # CASE: a when(denom != 0, ...) guard duplicates the norm subexpression
    # across condition and branch, and codegen subexpression elimination
    # won't merge into a conditional branch (measured 1.6x on
    # sim_cosine_topk); try_divide evaluates each operand once.
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _as_double(col: str) -> Column:
    # compute in float64: the oracle (and any sane reference) does
    return F.col(col).cast("array<double>")


def _empty_result(spark, score_col: str = "cos_sim", with_rank: bool = True):
    """Zero-row result in the standard top-k shape — the empty-input
    contract for the BLAS twins: an empty query set (or an empty centroid
    set) returns no rows instead of crashing np.stack on the driver.
    Empty inputs are routine at scale (a pruned scan matching nothing, a
    tenant with no data yet); tests/test_empty_inputs.py runs every
    declared query against all-empty tables."""
    rank = "rank int, " if with_rank else ""
    return spark.createDataFrame(
        [], f"query_id long, neighbor_id long, {rank}{score_col} double"
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector (self excluded)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def cosine_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine, the vectorized scale path: the (small) query
    matrix is broadcast to every partition; each Arrow batch computes a
    C @ Q.T matrix product in numpy and emits only its LOCAL top-k rows per
    query, so the global merge (window rank over ~k * n_partitions rows per
    query) is negligible. Same results as cosine_topk; ~10-100x faster per
    row because the dot products run in BLAS instead of interpreted
    expression lambdas."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    qpdf = queries.select(F.col(id_col).alias("qid"), vec_col).toPandas()
    if len(qpdf) == 0:
        return _empty_result(spark)
    qids = qpdf["qid"].to_numpy()
    Q = np.stack(qpdf[vec_col].to_numpy()).astype(np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((qids, Qn))

    out_schema = "query_id long, neighbor_id long, cos_sim double"

    def topk_per_batch(batches):
        bqids, bQn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            C = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            S = Cn @ bQn.T  # |batch| x |queries|
            for j, qid in enumerate(bqids):
                col = _np_round_half_up(S[:, j], 4)
                cand_idx = np.nonzero(ids != qid)[0]
                if len(cand_idx) == 0:
                    continue
                # local selection uses the SAME key as the global merge
                # ((rounded sim desc, id asc)) so pruning can't change ranks
                order = np.lexsort((ids[cand_idx], _desc_nulls_last(col[cand_idx])))
                top = cand_idx[order[:k]]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": ids[top],
                        "cos_sim": col[top],
                    }
                )

    local = corpus.select(id_col, vec_col).mapInPandas(topk_per_batch, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def quantize_embeddings(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: scale = max|v|/127,
    q_i = round(v_i / scale) in [-127, 127] — the 4x memory cut (float32 ->
    int8) that makes a 100 TB embedding corpus fit executor memory /
    off-heap caches. Pure JVM-side expressions; the float column can be
    dropped after this runs. Zero vectors quantize to zeros with scale 0."""
    v = _as_double(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    qvec = F.when(scale > 0, F.transform(v, lambda x: F.round(x / scale).cast("int"))).otherwise(
        F.transform(v, lambda x: F.lit(0))
    )
    return corpus.select(
        F.col(id_col), qvec.alias("qvec"), F.round(scale, 8).alias("scale")
    )


def quantized_topk(
    quantized: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-over-quantized top-k: float queries scored against the int8
    corpus. Cosine is scale-invariant in each argument, so the per-vector
    dequantization multiply cancels and scoring runs directly on the int
    arrays — no dequantize pass, no float corpus read. Same broadcast-the-
    queries / corpus-never-shuffles shape as cosine_topk."""
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv"))
    c = quantized.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform("qvec", lambda x: x.cast("double")).alias("cv"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 4).alias("cos_sim_q"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim_q"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim_q")
    )


def quantized_topk_vectorized(
    quantized: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """BLAS path for exact-over-quantized top-k — same semantics as
    ``quantized_topk`` (int8 corpus, float queries, scale cancels in
    cosine), same local-top-k prune + global merge as
    ``cosine_topk_vectorized``: one matrix product per Arrow batch instead
    of per-element HOF lambdas (interpreted; measured 24.9x wall at 10x
    data vs ~2x for this path). Queries broadcast; the corpus never
    shuffles beyond the final per-query k-row merge."""
    import numpy as np
    import pandas as pd

    spark = quantized.sparkSession
    qpdf = queries.select(F.col(id_col).alias("qid"), _as_double(vec_col).alias("qv")).toPandas()
    if len(qpdf) == 0:
        return _empty_result(spark, score_col="cos_sim_q")
    qids = qpdf["qid"].to_numpy()
    Q = np.stack(qpdf["qv"].to_numpy()).astype(np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((qids, Qn))

    out_schema = "query_id long, neighbor_id long, cos_sim_q double"

    def topk_per_batch(batches):
        bqids, bQn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            C = np.stack(pdf["qvec"].to_numpy()).astype(np.float64)
            # int-valued doubles; norms exact, IEEE division like the
            # expression path (zero vectors yield NaN either way)
            with np.errstate(divide="ignore", invalid="ignore"):
                Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
                S = Cn @ bQn.T
            for j, qid in enumerate(bqids):
                col = _np_round_half_up(S[:, j], 4)
                cand_idx = np.nonzero(ids != qid)[0]
                if len(cand_idx) == 0:
                    continue
                # local selection key == global merge key ((sim desc, id
                # asc) on the ROUNDED score) so pruning can't change ranks
                order = np.lexsort((ids[cand_idx], _desc_nulls_last(col[cand_idx])))
                top = cand_idx[order[:k]]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": ids[top],
                        "cos_sim_q": col[top],
                    }
                )

    local = quantized.select(id_col, "qvec").mapInPandas(topk_per_batch, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim_q"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim_q")
    )


def blocked_near_dup_pairs_vectorized(
    corpus: DataFrame,
    block_col: str = "label",
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs within blocks, vectorized: applyInPandas per
    block computes the block's full cosine matrix in BLAS and emits only
    pairs >= threshold. The shuffle is one partition per block key; work is
    quadratic only within blocks (at scale the block key is an LSH bucket /
    IVF cell, keeping blocks bounded). Sizing blocks: COVERAGE.md "Scale
    tuning knobs"."""
    import numpy as np
    import pandas as pd

    def pairs_in_block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        S = _np_round_half_up(Vn @ Vn.T, 4)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = S[iu, ju] >= threshold
        a, b = ids[iu[keep]], ids[ju[keep]]
        # normalize pair order to (min, max) regardless of row order
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos_sim": S[iu, ju][keep]})

    return (
        corpus.select(id_col, block_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(pairs_in_block, schema="id_a long, id_b long, cos_sim double")
    )


def assign_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: nearest centroid by cosine (broadcast join +
    per-vector argmax — corpus is never shuffled)."""
    c = corpus.select(F.col(id_col), _as_double(vec_col).alias("v"))
    cent = centroids.select(F.col(id_col).alias("cell_id"), _as_double(vec_col).alias("cv"))
    scored = c.crossJoin(F.broadcast(cent)).select(
        id_col, "v", "cell_id", cosine(F.col("v"), F.col("cv")).alias("sim")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("sim"), F.asc("cell_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "v", "cell_id")
    )


def kmeans_fit(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over the embedding column with pure DataFrame ops —
    the real IVF coarse quantizer (ROADMAP item; assign_cells accepts the
    result as its centroids).

    Per iteration: assign every vector to its nearest centroid (broadcast
    argmax — the corpus never shuffles for assignment), then recompute each
    centroid as the element-wise mean via posexplode + groupBy(cell, dim) —
    a map-side-combined aggregation whose shuffle is k * dims doubles per
    map task. Centroids (k x dims, tiny) pass through the driver between
    iterations. Deterministic init: the k lowest-id vectors.
    """
    c = corpus.select(F.col(id_col), _as_double(vec_col).alias("v"))
    # the window runs over the k post-limit rows only; the partition key is
    # a NON-FOLDABLE constant (substring(col,0,0)) so the spec survives
    # optimization and WindowExec doesn't warn (lit(0) folds to global)
    centroids = c.orderBy(id_col).limit(k).select(
        F.row_number()
        .over(
            Window.partitionBy(
                F.substring(F.col(id_col).cast("string"), 0, 0)
            ).orderBy(id_col)
        )
        .alias("cell_id"),
        "v",
    )

    spark = corpus.sparkSession
    for _ in range(iters):
        cent = F.broadcast(centroids.select("cell_id", F.col("v").alias("cv")))
        scored = c.crossJoin(cent).select(
            id_col, "v", "cell_id", cosine(F.col("v"), F.col("cv")).alias("sim")
        )
        w = Window.partitionBy(id_col).orderBy(F.desc("sim"), F.asc("cell_id"))
        assigned = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
        means = (
            assigned.select("cell_id", F.posexplode("v").alias("dim", "val"))
            .groupBy("cell_id", "dim")
            .agg(F.avg("val").alias("m"))
            .groupBy("cell_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select("cell_id", F.transform("dm", lambda s: s["m"]).alias("v"))
        )
        # empty cells keep their previous centroid
        kept = centroids.join(means.select("cell_id"), "cell_id", "left_anti")
        centroids = means.unionByName(kept)
        centroids = spark.createDataFrame(centroids.collect(), schema=centroids.schema)

    return centroids.select(F.col("cell_id").alias(id_col), F.col("v").alias(vec_col))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: search only the query's own centroid cell (IVF).

    See also lsh_topk below — the training-free blocking alternative.
    Sizing n_cells: COVERAGE.md "Scale tuning knobs"."""
    cells = assign_cells(corpus, centroids, id_col, vec_col)
    q = assign_cells(queries, centroids, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), "cell_id"
    )
    scored = (
        cells.join(F.broadcast(q), "cell_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col("v")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def assign_cells_vectorized(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``assign_cells``, the BLAS scale path: one ``Vn @ CentN.T`` matrix
    product per Arrow batch instead of N x k interpreted HOF dot products
    — the form that survives k ≈ sqrt(N) cells (the SemDeDup/IVF
    deployment shape), where the expression path's N*k interpreted dots
    dominate the whole pipeline. Same output contract and tie-breaks as
    assign_cells: nearest centroid by cosine, ties to the LOWEST cell_id
    (centroid ids are scored in ascending order and argmax takes the
    first maximum; all-NaN zero-vector rows also fall to the lowest cell,
    matching Spark's NaN-first descending sort). Centroids are a bounded
    broadcast; the corpus never shuffles."""
    import numpy as np
    import pandas as pd

    cent_ids, Cent = _collect_vecs(centroids, id_col, vec_col)
    spark = corpus.sparkSession
    if Cent is None:
        return spark.createDataFrame(
            [], schema=f"{id_col} long, v array<double>, cell_id long"
        )
    with np.errstate(divide="ignore", invalid="ignore"):
        CentN = Cent / np.linalg.norm(Cent, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((np.asarray(cent_ids), CentN))

    def assign_batch(batches):
        b_ids, b_CentN = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
                S = Vn @ b_CentN.T
            # argmax returns the FIRST max -> lowest cell_id on ties (ids
            # ascend); all-NaN rows return 0 -> lowest cell, like the
            # expression form's NaN-first descending sort
            nearest = b_ids[np.nanargmax(np.nan_to_num(S, nan=-np.inf), axis=1)]
            yield pd.DataFrame(
                {id_col: pdf[id_col], "v": pdf["v"], "cell_id": nearest}
            )

    return corpus.select(F.col(id_col), _as_double(vec_col).alias("v")).mapInPandas(
        assign_batch, schema=f"{id_col} long, v array<double>, cell_id long"
    )


def assign_cells_quantized(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """``assign_cells_vectorized`` with the cosine QUANTIZED at
    ``round_dp`` before the argmax — the BLAS twin of the 6-dp-rounded
    expression assignment whose unrolled DuckDB oracle backs
    curate_mixture_semantic (round 16): rounding makes the argmax
    invariant to float-sum ORDERING (BLAS accumulation vs the HOF fold vs
    DuckDB), so the vectorized path can feed a hash-gated row. Half-up
    rounding matches F.round / DuckDB ROUND (numpy's native round is
    banker's — the established _np_round_half_up trap). Same output
    contract and tie-breaks as the expression form: among equal ROUNDED
    sims the LOWEST cell_id wins (ids scored ascending, argmax takes the
    first maximum); all-NaN zero-vector rows also fall to the lowest
    cell. Centroids are a bounded driver collect + broadcast; the corpus
    never shuffles."""
    import numpy as np
    import pandas as pd

    cent_ids, Cent = _collect_vecs(centroids, id_col, vec_col)
    spark = corpus.sparkSession
    if Cent is None:
        return spark.createDataFrame(
            [], schema=f"{id_col} long, v array<double>, cell_id long"
        )
    with np.errstate(divide="ignore", invalid="ignore"):
        CentN = Cent / np.linalg.norm(Cent, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((np.asarray(cent_ids), CentN))

    def assign_batch(batches):
        b_ids, b_CentN = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
                S = _np_round_half_up(Vn @ b_CentN.T, round_dp)
            nearest = b_ids[np.nanargmax(np.nan_to_num(S, nan=-np.inf), axis=1)]
            yield pd.DataFrame(
                {id_col: pdf[id_col], "v": pdf["v"], "cell_id": nearest}
            )

    return corpus.select(F.col(id_col), _as_double(vec_col).alias("v")).mapInPandas(
        assign_batch, schema=f"{id_col} long, v array<double>, cell_id long"
    )


def kmeans_fit_sample(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int | None = None,
) -> DataFrame:
    """The deployment form of the coarse-quantizer fit (the FAISS `train`
    idiom): Lloyd's k-means runs driver-side in numpy over a BOUNDED
    deterministic sample of the corpus — ``sample_cap`` (default 50*k)
    vectors chosen by portable-hash order, so the fit costs O(cap * k)
    BLAS per iteration regardless of corpus size, and only the assignment
    of the full corpus is distributed (``assign_cells_vectorized``). This
    is how k ≈ sqrt(N) quantizers are actually trained at 100 TB — a
    distributed Lloyd's over the full corpus (``kmeans_fit``) pays an
    N x k assignment per iteration for centroids a 50*k sample estimates
    just as well. Deterministic: hash-ordered sample, lowest-id init,
    fixed iteration count; empty cells keep their previous centroid.
    Returns (id_col = cell_id 1..k, vec_col) like kmeans_fit."""
    import numpy as np

    from execute_sync_spark.functions.hashing import h32

    cap = sample_cap or 50 * k
    # TakeOrderedAndProject: per-partition heap of cap rows, no full sort
    sample = (
        corpus.select(F.col(id_col), _as_double(vec_col).alias("__v"))
        .orderBy(h32(F.col(id_col).cast("string")), F.col(id_col))
        .limit(cap)
    )
    ids, V = _collect_vecs(sample.select(id_col, F.col("__v").alias("v")), id_col, "v")
    spark = corpus.sparkSession
    if V is None or len(V) == 0:
        return spark.createDataFrame([], schema=f"{id_col} long, {vec_col} array<double>")
    k = min(k, len(V))
    Cent = V[:k].copy()  # ids are ascending from _collect_vecs: lowest-id init
    with np.errstate(divide="ignore", invalid="ignore"):
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        Vn = np.nan_to_num(Vn, nan=0.0)
    for _ in range(iters):
        with np.errstate(divide="ignore", invalid="ignore"):
            CentN = Cent / np.linalg.norm(Cent, axis=1, keepdims=True)
        S = Vn @ np.nan_to_num(CentN, nan=0.0).T
        nearest = np.argmax(S, axis=1)  # first max -> lowest cell on ties
        for c in range(k):
            mask = nearest == c
            if mask.any():
                Cent[c] = V[mask].mean(axis=0)
    rows = [(int(c + 1), [float(x) for x in Cent[c]]) for c in range(k)]
    return spark.createDataFrame(rows, schema=f"{id_col} long, {vec_col} array<double>")


def range_search_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """BLAS path for cosine range search (radius query): every neighbor with
    rounded cosine >= threshold per query. Same semantics as the expression
    crossJoin form (self excluded, HALF_UP 4-decimal rounding BEFORE the
    threshold test) but scored as one matrix product per Arrow batch —
    queries broadcast, corpus never shuffles, output rows stream straight
    out (no rank/merge stage at all)."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    qpdf = queries.select(F.col(id_col).alias("qid"), _as_double(vec_col).alias("qv")).toPandas()
    if len(qpdf) == 0:
        return _empty_result(spark, with_rank=False)
    qids = qpdf["qid"].to_numpy()
    Q = np.stack(qpdf["qv"].to_numpy()).astype(np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((qids, Qn, float(threshold)))

    out_schema = "query_id long, neighbor_id long, cos_sim double"

    def matches_per_batch(batches):
        bqids, bQn, thr = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            C = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
                S = _np_round_half_up(Cn @ bQn.T, 4)
            hit_i, hit_j = np.nonzero((S >= thr) & (ids[:, None] != bqids[None, :]))
            if len(hit_i) == 0:
                continue
            yield pd.DataFrame(
                {
                    "query_id": bqids[hit_j],
                    "neighbor_id": ids[hit_i],
                    "cos_sim": S[hit_i, hit_j],
                }
            )

    return corpus.select(id_col, _as_double(vec_col).alias("v")).mapInPandas(
        matches_per_batch, schema=out_schema
    )


def ivf_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """BLAS path for IVF top-k — same semantics as ``ivf_topk`` (search only
    the query's own centroid cell; argmax assignment tie-breaks to the
    lowest cell_id) but both the cell assignment and the in-cell scoring run
    as one matrix product per Arrow batch instead of per-element HOF
    lambdas (interpreted; 18.5x wall at 10x data for the expression form).

    ``nprobe > 1`` probes the query's nearest ``nprobe`` cells — the
    standard IVF recall knob (a true neighbor just across a cell boundary
    is found at the cost of scanning nprobe/cells of the corpus per query).
    Corpus vectors still live in exactly one cell, so the candidate union
    is duplicate-free by construction.

    Centroids (cells x dims) and the per-cell query groups are broadcast;
    the corpus never shuffles — assignment happens inline in the same pass
    as scoring, and only per-query local top-k rows reach the final k-row
    merge. At real scale, persist ``assign_cells`` output partitioned by
    cell instead, and this probe becomes a partition-pruned scan."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    cent_pdf = (
        centroids.select(F.col(id_col).alias("cell_id"), _as_double(vec_col).alias("cv"))
        .toPandas()
        .sort_values("cell_id")  # argmax first-max => lowest cell_id on ties
    )
    if len(cent_pdf) == 0:
        return _empty_result(spark)
    cell_ids = cent_pdf["cell_id"].to_numpy()
    Cent = np.stack(cent_pdf["cv"].to_numpy()).astype(np.float64)
    CentN = Cent / np.linalg.norm(Cent, axis=1, keepdims=True)

    qpdf = queries.select(F.col(id_col).alias("qid"), _as_double(vec_col).alias("qv")).toPandas()
    if len(qpdf) == 0:
        return _empty_result(spark)
    qids = qpdf["qid"].to_numpy()
    Q = np.stack(qpdf["qv"].to_numpy()).astype(np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    sims = Qn @ CentN.T
    nprobe = min(nprobe, len(cell_ids))
    # rank cells per query by (sim desc, cell_id asc) — same key as the
    # expression path's argmax tie-break, extended to the top nprobe
    order = np.lexsort((np.broadcast_to(cell_ids, sims.shape), _desc_nulls_last(sims)), axis=1)
    probe_cells = cell_ids[order[:, :nprobe]]  # |queries| x nprobe
    by_cell: dict[int, tuple] = {}
    for c in np.unique(probe_cells):
        mask = (probe_cells == c).any(axis=1)
        by_cell[int(c)] = (qids[mask], Qn[mask])
    bc = spark.sparkContext.broadcast((cell_ids, CentN, by_cell))

    out_schema = "query_id long, neighbor_id long, cos_sim double"

    def topk_per_batch(batches):
        b_cell_ids, b_CentN, b_by_cell = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            C = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
                cells = b_cell_ids[np.argmax(Cn @ b_CentN.T, axis=1)]
            for c, (cq_ids, cQn) in b_by_cell.items():
                mask = cells == c
                if not mask.any() or len(cq_ids) == 0:
                    continue
                sub_ids = ids[mask]
                S = Cn[mask] @ cQn.T
                for j, qid in enumerate(cq_ids):
                    col = _np_round_half_up(S[:, j], 4)
                    cand = np.nonzero(sub_ids != qid)[0]
                    if len(cand) == 0:
                        continue
                    # local selection key == global merge key ((rounded sim
                    # desc, id asc)) so pruning can't change ranks
                    order = np.lexsort((sub_ids[cand], _desc_nulls_last(col[cand])))
                    top = cand[order[:k]]
                    yield pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": sub_ids[top],
                            "cos_sim": col[top],
                        }
                    )

    local = corpus.select(id_col, _as_double(vec_col).alias("v")).mapInPandas(
        topk_per_batch, schema=out_schema
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def build_cell_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Materialize the IVF index: ``assign_cells`` output written as parquet
    PARTITIONED BY (cell_id, batch_id) — the persisted form of the coarse
    quantizer that turns every probe into a partition-pruned scan. At
    100 TB this is the deployment shape: assignment cost is paid once at
    ingest (or on centroid refresh), and a query touching nprobe cells
    reads exactly nprobe/cells of the corpus from disk, no shuffle, no
    full scan. The batch_id sub-partition (``__full__`` for the bootstrap
    build) exists so ``append_cell_index`` can fold NEW vectors in
    replay-idempotently — probes prune on cell_id alone and transparently
    read the union of batches. Assignment runs on the BLAS batch form
    (``assign_cells_vectorized``, identical contract/tie-breaks): the
    expression form's row_number window would re-shuffle the whole
    corpus on id just to pick each vector's argmax cell — at 100 TB
    that exchange IS the index-build bottleneck."""
    cells = assign_cells_vectorized(corpus, centroids, id_col, vec_col)
    (
        cells.withColumn("batch_id", F.lit("__full__"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("cell_id", "batch_id")
        .parquet(path)
    )
    return path


def sweep_index(path: str, min_age_s: float = 0.0) -> dict[str, list[str]]:
    """Restore or reclaim dirs stranded by a crash inside
    ``compact_index``'s two-rename window — the shared protocol's sweep
    (index_commit.sweep, CELL_SPEC): forward-finish ONLY from the SAME
    compact run's pid-matched staging dir carrying its manifest, else
    roll the aside back; merge an aside whose live cell reappeared by
    coverage; reclaim leftover asides/tmps. ``min_age_s`` guards a
    MULTI-PROCESS deployment (another process mid-compact has FRESH
    asides — only dirs older than this are touched; freshness is the
    store's max(mtime, ctime) clock, and a stat failure SKIPS the dir on
    a guarded sweep, ADVICE r8/r9)."""
    return index_commit.sweep(path, index_commit.CELL_SPEC, min_age_s)


def compact_index(spark, path: str) -> list[int]:
    """Collapse each cell's accumulated batch partitions into a single
    ``batch_id=__compacted__`` partition — bounds small-file growth on a
    live (streaming-maintained) ANN index; O(dirty cells), not O(index);
    per-cell ``_absorbed.json`` manifests + root summary keep replays of
    absorbed batches duplicate-free; each cell commits via the
    recoverable two-rename swap. The protocol lives in
    functions/index_commit.py (shared with the rollup and every index); this
    wrapper keeps the historical cell API (int cell ids). Works on both
    index kinds (IVF vectors and IVF+PQ codes — the rewrite is
    schema-agnostic). Returns the compacted cell ids."""
    done = index_commit.compact(spark, path, index_commit.CELL_SPEC)
    return [int(v[0]) for v in done]


def append_cell_index(
    new_batch: DataFrame,
    centroids: DataFrame,
    path: str,
    batch_id,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int]:
    """Incremental IVF index maintenance: assign ONLY the new batch to
    cells (broadcast argmax — the corpus index is never read, never
    reshuffled) and land it under this batch's (cell_id, batch_id)
    partitions with DYNAMIC partition overwrite via the shared commit
    protocol (index_commit.append, CELL_SPEC): a replay of the same
    batch_id overwrites its own partitions instead of duplicating
    vectors — the ``HourlyRollup.refresh`` idempotency idiom, which is
    why batch_id is REQUIRED (a foreachBatch epoch id is exactly right).
    At 100 TB a streaming embedding feed keeps the ANN index fresh at the
    cost of one small partition write per batch; compaction, when partial
    files accumulate, is a per-cell rewrite (``compact_index``). Returns
    the cell ids written (a replay after a compact writes only the cells
    that do not hold the batch yet)."""
    cells = assign_cells_vectorized(new_batch, centroids, id_col, vec_col)
    touched = index_commit.append(cells, path, index_commit.CELL_SPEC, batch_id)
    return [int(v[0]) for v in touched]


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF probe against a persisted cell-partitioned index
    (``build_cell_index``): the query's probe cells become a
    ``cell_id IN (...)`` filter that Spark resolves via PARTITION PRUNING —
    only the probed cells' files are listed and read
    (tests/test_plan_quality.py asserts the pruned scan). Scoring is the
    same BLAS batch form as ``ivf_topk_vectorized``."""
    import numpy as np
    import pandas as pd

    cent_pdf = (
        centroids.select(F.col(id_col).alias("cell_id"), _as_double(vec_col).alias("cv"))
        .toPandas()
        .sort_values("cell_id")
    )
    if len(cent_pdf) == 0:
        return _empty_result(spark)
    cell_ids = cent_pdf["cell_id"].to_numpy()
    CentN = np.stack(cent_pdf["cv"].to_numpy()).astype(np.float64)
    CentN = CentN / np.linalg.norm(CentN, axis=1, keepdims=True)

    qpdf = queries.select(F.col(id_col).alias("qid"), _as_double(vec_col).alias("qv")).toPandas()
    if len(qpdf) == 0:
        return _empty_result(spark)
    qids = qpdf["qid"].to_numpy()
    Q = np.stack(qpdf["qv"].to_numpy()).astype(np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    sims = Qn @ CentN.T
    nprobe = min(nprobe, len(cell_ids))
    order = np.lexsort((np.broadcast_to(cell_ids, sims.shape), _desc_nulls_last(sims)), axis=1)
    probe_cells = cell_ids[order[:, :nprobe]]
    by_cell: dict[int, tuple] = {}
    for c in np.unique(probe_cells):
        mask = (probe_cells == c).any(axis=1)
        by_cell[int(c)] = (qids[mask], Qn[mask])
    bc = spark.sparkContext.broadcast(by_cell)

    out_schema = "query_id long, neighbor_id long, cos_sim double"

    def topk_per_batch(batches):
        b_by_cell = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            cells = pdf["cell_id"].to_numpy()
            C = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            for c, (cq_ids, cQn) in b_by_cell.items():
                mask = cells == c
                if not mask.any():
                    continue
                sub_ids = ids[mask]
                S = Cn[mask] @ cQn.T
                for j, qid in enumerate(cq_ids):
                    col = _np_round_half_up(S[:, j], 4)
                    cand = np.nonzero(sub_ids != qid)[0]
                    if len(cand) == 0:
                        continue
                    order_j = np.lexsort((sub_ids[cand], _desc_nulls_last(col[cand])))
                    top = cand[order_j[:k]]
                    yield pd.DataFrame(
                        {"query_id": qid, "neighbor_id": sub_ids[top], "cos_sim": col[top]}
                    )

    probed = sorted({int(c) for c in probe_cells.ravel()})
    index_commit.check_not_stranded(index_path, index_commit.CELL_SPEC)
    scan = spark.read.parquet(index_path).filter(F.col("cell_id").isin(probed))
    local = scan.select(id_col, F.col("cell_id").cast("long").alias("cell_id"), "v").mapInPandas(
        topk_per_batch, schema=out_schema
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def _lsh_planes(n_planes: int = 4, dim: int = 64, seed: int = 7) -> list[list[float]]:
    """Deterministic random-hyperplane family for sign-LSH, rounded to 6
    decimals so the same constants embed exactly in Spark literals and in the
    DuckDB oracle SQL (decimal text -> double is correctly rounded in both)."""
    import numpy as np

    rs = np.random.RandomState(seed)
    return [[round(float(x), 6) for x in row] for row in rs.standard_normal((n_planes, dim))]


# OR-amplified LSH: L independent tables of b bits each. A pair is a
# candidate if it collides in ANY table, so for sign-LSH the capture
# probability of a pair at angle theta is 1 - (1 - (1-theta/pi)^b)^L —
# b controls precision (bucket size ~ n/2^b), L recovers recall. 6x4 bits
# gives ~55% recall on weakly-similar (near-random) vectors while each
# probe still touches only ~1/16 of the corpus.
LSH_TABLES: list[list[list[float]]] = [_lsh_planes(seed=11 + t) for t in range(6)]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id for one table: bit j = (vec . plane_j) > 0. Nearby
    vectors (small angle) collide with high probability; the bucket becomes
    the blocking / shuffle key, so ANN search is an equi-join instead of a
    cross product.

    The dot products here are sequential F.aggregate folds — interpreted, but
    bit-identical to DuckDB's list_dot_product (same left-to-right order),
    which keeps the >0 sign decisions oracle-exact. The 100 TB path swaps
    this per-row expression for a Pandas-UDF matrix product (C @ P.T > 0)
    emitting the same buckets."""
    bucket = F.lit(0)
    for j, p in enumerate(planes):
        lit_arr = F.array(*[F.lit(x) for x in p])
        bucket = bucket + F.when(_dot(vec, lit_arr) > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def _with_table_buckets(df: DataFrame, vec: str, tables: list[list[list[float]]]) -> DataFrame:
    """Explode a vector table into one row per (row, hash-table) with that
    table's bucket id — turns multi-table LSH probing into ONE equi-join on
    (table, bucket) instead of L separate joins."""
    buckets = F.array(*[lsh_bucket(F.col(vec), planes) for planes in tables])
    # posexplode_outer, NOT posexplode: the bare generator injects an
    # implicit size(arr)>0 filter BELOW the Generate that re-evaluates the
    # whole 24-dot-product bucket array in an interpreted Filter (the ~7x
    # pitfall documented in functions/dedupe.py). The array here is a fixed
    # 6-element literal structure, never null/empty, so outer is lossless.
    return df.select("*", F.posexplode_outer(buckets).alias("table", "bucket"))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k cosine via OR-amplified sign-LSH: a candidate is any
    corpus vector sharing a bucket with the query in at least one of the L
    hash tables; candidates are deduped, scored exactly, and ranked. Unlike
    ivf_topk (centroid cells) the blocking key needs no training pass;
    unlike cosine_topk the corpus-side work per query is the union of L
    buckets, not the whole corpus. The (small) query side is broadcast —
    the corpus never shuffles; on a corpus table clustered by (table,
    bucket) the probe becomes a pruned scan. Tune b (bits/table) to corpus
    size and L (tables) to the recall target (COVERAGE.md "Scale tuning
    knobs")."""
    tables = tables or LSH_TABLES
    c = _with_table_buckets(
        corpus.select(F.col(id_col), _as_double(vec_col).alias("cv")), "cv", tables
    )
    q = _with_table_buckets(
        queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")),
        "qv",
        tables,
    )
    scored = (
        c.join(F.broadcast(q), ["table", "bucket"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col("cv")), 4).alias("cos_sim"),
        )
        # a pair can collide in several tables: dedup before ranking
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def lsh_bucket_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """The DuckDB expression computing one table's sign-LSH bucket (oracle)."""
    terms = []
    for j, p in enumerate(planes):
        arr = "[" + ", ".join(repr(x) for x in p) + "]"
        terms.append(f"(CASE WHEN list_dot_product({vec_expr}, {arr}) > 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def lsh_table_buckets_sql(src: str, id_expr: str, vec_expr: str,
                          tables: list[list[list[float]]] | None = None) -> str:
    """UNION ALL of per-table bucket assignments — the oracle twin of
    _with_table_buckets."""
    tables = tables or LSH_TABLES
    parts = [
        f"SELECT {id_expr} AS vid, {vec_expr} AS v, {t} AS tbl, "
        f"{lsh_bucket_sql(vec_expr, planes)} AS bucket FROM {src}"
        for t, planes in enumerate(tables)
    ]
    return " UNION ALL ".join(parts)


def lsh_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: list[list[list[float]]] | None = None,
    multiprobe: bool = False,
) -> DataFrame:
    """lsh_topk, the vectorized scale path (same shape as
    cosine_topk_vectorized): per Arrow batch, bucket bits come from ONE
    C @ P.T matrix product over all L*b hyperplanes, candidates are the rows
    colliding with a query in any table, and only candidates get scored —
    then the same local-top-k prune + global rank. An expression-tree
    formulation of the 24 dot products is pathological either way:
    interpreted HOF folds cost ~90 us/dot, and inlining 64-term sums blows
    codegen/planning up (measured slower). BLAS it is.

    Bucket parity with the DuckDB oracle relies on float64 dot-product signs
    agreeing between BLAS and list_dot_product's sequential sum — they can
    differ only when |dot| ~ 1e-13 * ||v||*||p|| (probability ~1e-14/dot on
    this data); cos_sim parity uses the round-4 convention every vectorized
    twin here uses."""
    import numpy as np
    import pandas as pd

    tables = tables or LSH_TABLES
    L, b = len(tables), len(tables[0])
    P = np.array([plane for table in tables for plane in table], dtype=np.float64)
    weights = (1 << np.arange(b, dtype=np.int64))  # bit weights within a table

    def buckets_of(M: "np.ndarray") -> "np.ndarray":
        bits = (M @ P.T) > 0  # (n, L*b)
        return (bits.reshape(len(M), L, b) * weights).sum(axis=2)  # (n, L)

    spark = corpus.sparkSession
    qpdf = queries.select(F.col(id_col).alias("qid"), vec_col).toPandas()
    if len(qpdf) == 0:
        return _empty_result(spark)
    qids = qpdf["qid"].to_numpy()
    Q = np.stack(qpdf[vec_col].to_numpy()).astype(np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    QB = buckets_of(Q)  # (nq, L)
    bc = spark.sparkContext.broadcast((qids, Qn, QB))

    out_schema = "query_id long, neighbor_id long, cos_sim double"

    def topk_per_batch(batches):
        bqids, bQn, bQB = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            C = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            CB = buckets_of(C)  # (m, L)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            for j, qid in enumerate(bqids):
                if multiprobe:
                    # Hamming-1 probing: a candidate's bucket may differ from
                    # the query's in at most one bit (x ^ q == 0 or a power
                    # of two) — recall of ~b extra probes without extra
                    # tables or corpus-side cost
                    x = CB ^ bQB[j]
                    hit = ((x == 0) | ((x & (x - 1)) == 0)).any(axis=1)
                else:
                    hit = (CB == bQB[j]).any(axis=1)
                cand = np.nonzero(hit & (ids != qid))[0]
                if len(cand) == 0:
                    continue
                sims = _np_round_half_up(Cn[cand] @ bQn[j], 4)
                order = np.lexsort((ids[cand], _desc_nulls_last(sims)))
                top = cand[order[:k]]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": ids[top],
                        "cos_sim": sims[order[:k]],
                    }
                )

    local = corpus.select(id_col, vec_col).mapInPandas(topk_per_batch, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def build_lsh_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: list[list[list[float]]] | None = None,
) -> str:
    """Materialize the OR-amplified sign-LSH tables as parquet PARTITIONED
    BY (table, bucket, batch_id) — the persisted form that brings the
    sign-LSH family to parity with the IVF/PQ indexes (VERDICT r8 task 6;
    the batch_id sub-partition, ``__full__`` for the bootstrap build,
    exists so ``append_lsh_index`` can fold NEW vectors in
    replay-idempotently, round 10): ``lsh_topk`` rebuilds all L bucket
    assignments on every call, while a probe against this index reads
    ONLY the (table, bucket) partitions the query hashes into via
    partition pruning — L * |corpus|/2^b rows per query, no shuffle, no
    full scan, no per-call hashing of the corpus.

    Each row stores the vector alongside its bucket, so the index is
    self-contained for exact re-scoring at probe time at the cost of L
    copies of the corpus — the standard multi-table LSH trade. At 100 TB
    the variant that stores only (id, bucket) and gathers vectors from the
    corpus by id (one shuffled join per probe batch) halves storage per
    extra table; the self-contained form is declared because probe latency
    (pruned scan, zero joins against the corpus) is what an ANN serving
    path optimizes for. The bucket assignment reuses the exact expression
    path of ``lsh_topk`` (sequential-fold dot products), so index contents
    are bit-identical to the in-flight form's bucketing."""
    tables = tables or LSH_TABLES
    c = _with_table_buckets(
        corpus.select(F.col(id_col), _as_double(vec_col).alias("v")), "v", tables
    ).withColumn("batch_id", F.lit("__full__"))
    c.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("table", "bucket", "batch_id").parquet(path)
    return path


def append_lsh_index(
    new_batch: DataFrame,
    path: str,
    batch_id,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: list[list[list[float]]] | None = None,
) -> list[tuple[str, str]]:
    """Incremental sign-LSH index maintenance — the parity move that
    makes the training-free ANN family fully streaming-maintainable like
    IVF/PQ (`append_cell_index`/`append_pq_index`): bucket-assign ONLY
    the new batch (the corpus index is never read, never reshuffled) and
    land it under (table, bucket, batch_id) partitions with DYNAMIC
    partition overwrite via the shared commit protocol
    (functions/index_commit.py, LSH_SPEC). A replay of the same batch_id
    overwrites its own partitions; a leaf whose manifest shows the batch
    already folded in by ``compact_lsh_index`` is skipped. batch_id is
    REQUIRED (a foreachBatch epoch id is exactly right). Probes are
    unchanged: partition pruning on (table, bucket) transparently reads
    the union of batches. Returns the (table, bucket) leaves touched."""
    tables = tables or LSH_TABLES
    rows = _with_table_buckets(
        new_batch.select(F.col(id_col), _as_double(vec_col).alias("v")), "v", tables
    )
    return index_commit.append(rows, path, index_commit.LSH_SPEC, batch_id)


def compact_lsh_index(spark, path: str) -> list[tuple[str, str]]:
    """Collapse each dirty (table, bucket) leaf's batch partitions into a
    single ``batch_id=__compacted__`` partition — the sign-LSH analog of
    ``compact_index`` via the shared protocol (O(dirty leaves), per-leaf
    manifests + root summary, recoverable two-rename swaps; crash
    recovery via ``sweep_lsh_index``). Returns the compacted leaves."""
    return index_commit.compact(spark, path, index_commit.LSH_SPEC)


def sweep_lsh_index(path: str, min_age_s: float = 0.0) -> dict[str, list[str]]:
    """Crash recovery for ``compact_lsh_index``'s two-rename windows —
    the shared protocol's sweep with LSH leaf naming (``_old_tb_<t>-<b>_
    <pid>`` asides at the index root). Same rules and ``min_age_s``
    multi-process guard as ``sweep_index``."""
    return index_commit.sweep(path, index_commit.LSH_SPEC, min_age_s)


def lsh_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: list[list[list[float]]] | None = None,
) -> DataFrame:
    """ANN top-k against the persisted sign-LSH index (``build_lsh_index``):
    the query set's bucket ids become a per-table ``(table = t AND bucket
    IN (...))`` disjunction that Spark resolves via PARTITION PRUNING —
    only the collided buckets' files are listed and read
    (tests/test_plan_quality.py asserts the pruned scan). Candidates are
    scored exactly with the same BLAS batch form as
    ``lsh_topk_vectorized`` and deduped across tables before ranking, so
    results are identical to the in-flight forms."""
    import numpy as np
    import pandas as pd

    tables = tables or LSH_TABLES
    L, b = len(tables), len(tables[0])
    P = np.array([plane for table in tables for plane in table], dtype=np.float64)
    weights = 1 << np.arange(b, dtype=np.int64)

    qpdf = queries.select(F.col(id_col).alias("qid"), _as_double(vec_col).alias("qv")).toPandas()
    if len(qpdf) == 0:
        return _empty_result(spark)
    qids = qpdf["qid"].to_numpy()
    Q = np.stack(qpdf["qv"].to_numpy()).astype(np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    bits = (Q @ P.T) > 0
    QB = (bits.reshape(len(Q), L, b) * weights).sum(axis=2)  # (nq, L)
    bc = spark.sparkContext.broadcast((qids, Qn, QB))

    # one partition-pruning disjunction over the L tables: probe exactly
    # the buckets some query hashed into, per table
    probe_filter = None
    for t in range(L):
        cond = (F.col("table") == t) & F.col("bucket").isin(
            sorted({int(x) for x in QB[:, t]})
        )
        probe_filter = cond if probe_filter is None else (probe_filter | cond)

    out_schema = "query_id long, neighbor_id long, cos_sim double"

    def topk_per_batch(batches):
        bqids, bQn, bQB = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            tbls = pdf["table"].to_numpy()
            bkts = pdf["bucket"].to_numpy()
            C = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            for j, qid in enumerate(bqids):
                hit = np.zeros(len(ids), dtype=bool)
                for t in range(L):
                    hit |= (tbls == t) & (bkts == bQB[j, t])
                cand = np.nonzero(hit & (ids != qid))[0]
                if len(cand) == 0:
                    continue
                # a vector can collide in several tables within this batch:
                # dedup locally before the per-batch top-k prune
                cand = cand[np.unique(ids[cand], return_index=True)[1]]
                sims = _np_round_half_up(Cn[cand] @ bQn[j], 4)
                order = np.lexsort((ids[cand], _desc_nulls_last(sims)))
                top = cand[order[:k]]
                yield pd.DataFrame(
                    {"query_id": qid, "neighbor_id": ids[top], "cos_sim": sims[order[:k]]}
                )

    # probing around a leaf stranded by an interrupted compaction would
    # silently drop its vectors from the candidates — fail loudly instead
    # (same rule as ivf_topk_indexed)
    index_commit.check_not_stranded(index_path, index_commit.LSH_SPEC)
    if not storage.STORE.isdir(index_path):
        # a typo'd / nonexistent index path must fail LOUDLY, same as
        # ivf_topk_indexed's unguarded scan would (ADVICE r10: catching
        # every AnalysisException silently turned it into an empty answer)
        raise FileNotFoundError(f"lsh_topk_indexed: no index at {index_path}")
    # an index built from an empty corpus is only _SUCCESS — no parquet
    # data files — so the scan cannot infer a schema; with existence
    # checked above, ONLY that case falls back to the empty-result
    # contract shared by every BLAS twin (ADVICE r9)
    try:
        scan = spark.read.parquet(index_path).filter(probe_filter)
    except AnalysisException:
        return _empty_result(spark)
    local = scan.select(
        id_col, F.col("table").cast("int").alias("table"),
        F.col("bucket").cast("long").alias("bucket"), "v",
    ).mapInPandas(topk_per_batch, schema=out_schema)
    # the same (query, neighbor) survives per-batch pruning once per table
    # partition it collided in: dedup globally before ranking (cos_sim is
    # deterministic per pair, so any copy is the canonical one)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        local.dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized_assign: bool = False,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): coarse-cluster the corpus, then within
    each cluster drop every vector that has a LOWER-ID cluster-mate with
    cosine >= threshold (the mate may itself be dropped — the paper's
    max-over-earlier-points rule, which makes the verdict per-row
    independent and order-free). Emits one row per input vector with its
    cell and the keep/drop verdict, so downstream curation can filter,
    report drop rates per cell, or join the verdict back to documents.

    Scale shape: assignment is a broadcast argmax (the corpus never
    shuffles for it); the quadratic work is one BLAS gram matrix per CELL,
    so cluster granularity bounds it exactly like the block key in
    ``blocked_near_dup_pairs_vectorized`` — cells ≈ sqrt(N) keeps every
    cell's matrix in one task's memory (COVERAGE.md "Scale tuning knobs").
    Rounding to 4 decimals before the threshold compare keeps the verdict
    bit-identical to the DuckDB oracle.
    """
    # ONE kernel: the verdicts are a pure threshold over the per-row max
    # lower-id similarity, so they derive from semantic_dedup_scores — no
    # second copy of the assign/sort/normalize/gram logic to keep in
    # agreement (a NULL score means no lower-id mate, or only NaN
    # zero-vector similarities — kept either way, matching the oracle's
    # NULL-compare semantics)
    scores = semantic_dedup_scores(
        corpus, centroids, id_col=id_col, vec_col=vec_col,
        vectorized_assign=vectorized_assign,
    )
    return scores.select(
        id_col,
        "cell_id",
        (
            F.col("max_lower_sim").isNull() | (F.col("max_lower_sim") < threshold)
        ).alias("kept"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — Jégou et al. 2011 "Product Quantization
# for Nearest Neighbor Search". The corpus is stored as m sub-codebook ids
# (m bytes/vector at k<=256 codes: 64x smaller than 64 float32 dims), and
# queries score candidates with an asymmetric-distance (ADC) lookup table —
# no float vector is ever read at query time.

PQ_M = 4  # subspaces (dim must divide evenly)


def _collect_vecs(df: DataFrame, id_col: str, vec_col: str):
    """Collect a BOUNDED vector set (queries / centroids / codebook sample)
    to the driver as (ids, float64 matrix), id-ordered for determinism.
    Returns (empty, None) when the set is empty — callers implement the
    empty-input contract on top."""
    import numpy as np

    pdf = (
        df.select(F.col(id_col).alias("_id"), _as_double(vec_col).alias("_v"))
        .orderBy("_id")
        .toPandas()
    )
    if len(pdf) == 0:
        return np.array([], dtype=np.int64), None
    return pdf["_id"].to_numpy(), np.stack(pdf["_v"].to_numpy()).astype(np.float64)


def _adc_lut(Q, codebook):
    """LUT[q, j, c] = ||q_sub_j - codeword_jc||^2 for every query."""
    m, k_codes, dsub = codebook.shape
    Qs = Q.reshape(len(Q), m, dsub)
    return ((Qs[:, :, None, :] - codebook[None, :, :, :]) ** 2).sum(-1)


def _pq_adc_search(codes: DataFrame, qids, lut, k: int, id_col: str, probes=None) -> DataFrame:
    """Shared ADC scoring kernel for pq_topk and ivfpq_topk: per Arrow
    batch, gather each candidate's m partial distances from the query's
    LUT, rank on the ROUNDED distance (so local pruning, the global merge,
    and the DuckDB oracles all use one key), keep k per query per batch,
    then one global k-row merge. ``probes`` (qid → allowed cell_id set)
    adds the IVF cell mask; the codes frame must then carry ``cell_id``.
    ONE copy of the rounding/tie-break contract — a change here changes
    both search paths together."""
    import numpy as np
    import pandas as pd

    spark = codes.sparkSession
    m = lut.shape[1]
    bc = spark.sparkContext.broadcast((qids, lut, probes))
    out_schema = "query_id long, neighbor_id long, adc_dist double"

    def topk_per_batch(batches):
        bqids, blut, bprobes = bc.value
        jj = np.arange(m)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            cell = pdf["cell_id"].to_numpy() if bprobes is not None else None
            Cc = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (B, m)
            for qi, qid in enumerate(bqids):
                mask = ids != qid
                if bprobes is not None:
                    allowed = np.fromiter(bprobes[int(qid)], dtype=np.int64)
                    mask &= np.isin(cell, allowed)
                cand = np.nonzero(mask)[0]
                if len(cand) == 0:
                    continue
                # gather m partial distances per candidate and sum
                D = _np_round_half_up(blut[qi][jj, Cc[cand]].sum(axis=1), 4)
                order = np.lexsort((ids[cand], D))
                top = order[:k]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": ids[cand[top]],
                        "adc_dist": D[top],
                    }
                )

    cols = [id_col, "codes"] + (["cell_id"] if probes is not None else [])
    local = codes.select(*cols).mapInPandas(topk_per_batch, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def pq_codebook(sample: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"):
    """Build the per-subspace codebooks from a bounded sample (collected to
    the driver — at scale this is the k-means training sample, thousands of
    rows, never the corpus). Codeword c of subspace j is sample-vector c's
    j-th slice, ordered by id for determinism — the same fixed-seed idiom
    the IVF queries use for their centroids, which keeps the codebook
    reconstructible in the DuckDB oracle."""
    import numpy as np

    _, C = _collect_vecs(sample, id_col, vec_col)
    if C is None:
        # fully-pruned sample (empty-input contract): zero codewords — the
        # encoder then emits no codes and ADC search returns empty
        return np.zeros((PQ_M, 0, 0))
    k_codes, dim = C.shape
    dsub = dim // PQ_M
    # (m, k_codes, dsub)
    return C.reshape(k_codes, PQ_M, dsub).transpose(1, 0, 2).copy()


def pq_encode(
    corpus: DataFrame,
    codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Encode every corpus vector to its m sub-codebook ids (argmin L2 per
    subspace, tie to the lowest code id). One Arrow batch = one BLAS
    distance computation per subspace; embarrassingly parallel, no shuffle.
    Sub-distances are rounded (half-up, 6 dp) before the argmin so the hard
    assignment decision is bit-identical to the DuckDB oracle's arithmetic."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    carry = list(carry_cols or [])
    bc = spark.sparkContext.broadcast(codebook)
    carry_schema = "".join(
        f", {c} {t}" for c, t in
        ((c, dict(corpus.dtypes)[c]) for c in carry)
    )
    out_schema = f"{id_col} long, codes array<int>" + carry_schema

    def encode_batch(batches):
        cb = bc.value  # (m, k_codes, dsub)
        m, k_codes, dsub = cb.shape
        for pdf in batches:
            if len(pdf) == 0 or k_codes == 0:
                continue
            X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            Xs = X.reshape(len(X), m, dsub)
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                d2 = ((Xs[:, j, None, :] - cb[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = np.argmin(_np_round_half_up(d2, 6), axis=1)
            out = {id_col: pdf[id_col].to_numpy(), "codes": list(codes)}
            for c in carry:
                out[c] = pdf[c].to_numpy()
            yield pd.DataFrame(out)

    return corpus.select(id_col, _as_double(vec_col).alias("v"), *carry).mapInPandas(
        encode_batch, schema=out_schema
    )


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebook,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k over the PQ codes: each query precomputes an (m, k_codes)
    table of partial squared distances to every codeword; a candidate's
    approximate distance is then m LOOKUPS + a sum — the corpus float
    vectors are never touched. Local top-k per Arrow batch prunes to
    k rows/query/partition before the single global k-row merge (the
    ``cosine_topk_vectorized`` pattern); ranking runs on the ROUNDED
    distance so local and global keys agree and match the oracle."""
    spark = codes.sparkSession
    qids, Q = _collect_vecs(queries, id_col, vec_col)
    if Q is None or codebook.shape[1] == 0:
        # empty queries OR a zero-codeword codebook (pq_codebook's
        # empty-sample contract): no candidates can score — return the
        # standard empty shape instead of crashing the LUT reshape
        return _empty_result(spark, score_col="adc_dist")
    return _pq_adc_search(codes, qids, _adc_lut(Q, codebook), k, id_col)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook,
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ — the canonical billion-vector ANN composition (Jégou et al.
    2011 §V): the coarse quantizer prunes candidates to the query's nprobe
    nearest cells, and PQ asymmetric-distance scores ONLY those candidates
    from their m-byte codes. Cost per query: nprobe/cells of the corpus,
    scored at m lookups per candidate, no float vector read. The cell
    assignment + encode is the one-time index build (pq_encode carries
    cell_id through, so cells+codes land in one pass over the corpus and
    can be written partitioned by cell for the ``build_cell_index``-style
    partition-pruned probe).

    Probe ranking matches ``assign_cells``: cosine desc, cell_id asc —
    computed driver-side over the (bounded) query and centroid sets. Like
    the whole IVF family, probe choice compares RAW (unrounded) cosines
    across numpy/Spark/DuckDB arithmetic; a last-ulp centroid tie could in
    principle pick a different probe set than the oracle — six rounds of
    regenerated testdata have not produced one, and a rounding contract
    here would have to change every IVF oracle in lockstep."""
    import numpy as np

    spark = corpus.sparkSession
    # BLAS assignment (identical contract to assign_cells): the expression
    # form's per-vector argmax window re-shuffles the whole corpus on id —
    # at 100 TB that exchange dominates the inline assign+encode pass
    cells = assign_cells_vectorized(corpus, centroids, id_col=id_col, vec_col=vec_col)
    codes = pq_encode(cells, codebook, id_col=id_col, vec_col="v", carry_cols=["cell_id"])

    qids, Q = _collect_vecs(queries, id_col, vec_col)
    cids, C = _collect_vecs(centroids, id_col, vec_col)
    if Q is None or C is None or codebook.shape[1] == 0:
        # empty queries, an empty centroid set (nothing to probe), or a
        # zero-codeword codebook all mean "no scored candidates" — the
        # empty-input contract (_empty_result docstring) promises an empty
        # frame, not an np.stack/reshape crash
        return _empty_result(spark, score_col="adc_dist")
    with np.errstate(divide="ignore", invalid="ignore"):
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        S = Qn @ Cn.T  # |queries| x |cells|
    probes = {}
    for i, qid in enumerate(qids):
        order = np.lexsort((cids, _desc_nulls_last(S[i])))
        probes[int(qid)] = set(int(c) for c in cids[order[:nprobe]])
    all_probed = sorted(set().union(*probes.values()))

    # cell pruning happens BEFORE Python sees the rows: the isin filter on
    # the carried cell_id prunes to the probed cells (partition pruning
    # when codes are persisted partitioned by cell); the shared ADC kernel
    # then applies the per-query probe mask inside each batch
    pruned = codes.filter(F.col("cell_id").isin(all_probed))
    return _pq_adc_search(pruned, qids, _adc_lut(Q, codebook), k, id_col, probes=probes)


def ivfpq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook,
    k: int = 3,
    shortlist: int | None = None,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN with exact refinement — the production composition
    layered on IVF+PQ (the FAISS refine idiom: quantized shortlist, then
    re-score the few survivors against their ORIGINAL float vectors):
    ``ivfpq_topk`` produces a ``shortlist`` (default 3k) of candidates
    per query from 4-byte codes, then ONLY those nq*shortlist rows read
    their float vectors back and re-rank on exact rounded cosine. This
    buys back most of the PQ approximation error at the cost of one
    point-lookup join instead of a full exact scan.

    Scale shape: the shortlist (bounded: nq * shortlist rows) joins the
    corpus as a BROADCAST — the corpus is never shuffled, the float
    gather is a broadcast-hash semi-lookup in the same scan, and the
    final exact scoring + window touch only the shortlist rows. At
    100 TB with codes in the persisted cell index, stage 1 reads pruned
    code partitions and stage 2 reads only the collided vectors'
    row groups."""
    shortlist = shortlist or 3 * k
    cand = ivfpq_topk(
        corpus, queries, centroids, codebook,
        k=shortlist, nprobe=nprobe, id_col=id_col, vec_col=vec_col,
    )
    qv = queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv"))
    # shortlist x query-vector pairing is small-by-construction (both
    # sides bounded); broadcast it into the corpus scan so the float
    # gather never shuffles the corpus
    small = cand.select("query_id", "neighbor_id").join(F.broadcast(qv), "query_id")
    scored = (
        corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("nv"))
        .join(F.broadcast(small), "neighbor_id")
        .withColumn("cos_sim", F.round(cosine(F.col("qv"), F.col("nv")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def build_pq_index(
    corpus: DataFrame,
    centroids: DataFrame,
    codebook,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Materialize the IVF+PQ index: one pass over the corpus assigns the
    coarse cell AND encodes the m sub-codebook ids, written as parquet
    PARTITIONED BY cell_id with the codebook persisted alongside
    (``_codebook.npy`` — the underscore prefix keeps Spark's reader from
    treating it as data, same convention as ``_SUCCESS``). This is the
    deployment shape of ``ivfpq_topk``'s inline assignment+encode: the
    index build cost is paid once at ingest, each probe is a
    partition-pruned scan of nprobe cells' code files (m bytes/vector, not
    the float vectors), and the codebook travels with the codes so a query
    session can't pair codes with the wrong codebook."""
    import os

    import numpy as np

    cells = assign_cells_vectorized(corpus, centroids, id_col=id_col, vec_col=vec_col)
    codes = pq_encode(cells, codebook, id_col=id_col, vec_col="v", carry_cols=["cell_id"])
    (
        codes.withColumn("batch_id", F.lit("__full__"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("cell_id", "batch_id")
        .parquet(path)
    )
    np.save(os.path.join(path, "_codebook.npy"), codebook)
    return path


def append_pq_index(
    new_batch: DataFrame,
    centroids: DataFrame,
    path: str,
    batch_id,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int]:
    """Incremental IVF+PQ index maintenance: assign + PQ-encode ONLY the
    new batch (with the codebook persisted in the index — new vectors are
    coded against the SAME codebook the queries' ADC tables use, so a
    session can't mix codebooks) and land it under (cell_id, batch_id)
    through the shared commit protocol (``index_commit.append``,
    CELL_SPEC) — replay-idempotent per batch_id, exactly like
    ``append_cell_index``. Codebook/centroid DRIFT is the
    deployment caveat: after enough distribution shift, retrain + a full
    ``build_pq_index`` rebuild (the IVF-family refresh story). Returns
    the touched cell ids."""
    codebook = load_pq_codebook(path)
    cells = assign_cells_vectorized(new_batch, centroids, id_col=id_col, vec_col=vec_col)
    codes = pq_encode(cells, codebook, id_col=id_col, vec_col="v", carry_cols=["cell_id"])
    touched = index_commit.append(codes, path, index_commit.CELL_SPEC, batch_id)
    return sorted(int(v[0]) for v in touched)


def load_pq_codebook(path: str):
    """The codebook persisted by ``build_pq_index`` (m, k_codes, dsub)."""
    import os

    import numpy as np

    return np.load(os.path.join(path, "_codebook.npy"))


def ivfpq_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    codebook=None,
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ probe against a persisted cell-partitioned code index
    (``build_pq_index``): the union of all queries' probe cells becomes a
    ``cell_id IN (...)`` filter resolved by PARTITION PRUNING — only the
    probed cells' code files are listed and read
    (tests/test_plan_quality.py asserts the pruned scan), and what is read
    is m-byte codes, never float vectors. Scoring is the shared ADC kernel
    (``_pq_adc_search``), so ranking/rounding semantics are identical to
    the in-flight ``ivfpq_topk`` — the two are agreement-tested. Probe
    ranking matches ``assign_cells`` (cosine desc, cell_id asc) with the
    same raw-cosine caveat documented on ``ivfpq_topk``."""
    import numpy as np

    if codebook is None:
        codebook = load_pq_codebook(index_path)
    qids, Q = _collect_vecs(queries, id_col, vec_col)
    cids, C = _collect_vecs(centroids, id_col, vec_col)
    if Q is None or C is None or codebook.shape[1] == 0:
        return _empty_result(spark, score_col="adc_dist")
    with np.errstate(divide="ignore", invalid="ignore"):
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        S = Qn @ Cn.T
    probes = {}
    for i, qid in enumerate(qids):
        order = np.lexsort((cids, _desc_nulls_last(S[i])))
        probes[int(qid)] = set(int(c) for c in cids[order[:nprobe]])
    all_probed = sorted(set().union(*probes.values()))

    index_commit.check_not_stranded(index_path, index_commit.CELL_SPEC)
    scan = spark.read.parquet(index_path).filter(F.col("cell_id").isin(all_probed))
    codes = scan.select(id_col, "codes", F.col("cell_id").cast("long").alias("cell_id"))
    return _pq_adc_search(codes, qids, _adc_lut(Q, codebook), k, id_col, probes=probes)


def pq_train(
    sample: DataFrame,
    k_codes: int = 16,
    iters: int = 8,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train per-subspace PQ codebooks with Lloyd's k-means (the production
    codebook path; the declared ``sim_pq_topk`` query keeps the sample-slice
    codebook for oracle stability, exactly as the IVF queries keep fixed
    centroids). The training sample is bounded (thousands of rows) and runs
    driver-side in numpy — at 100 TB you train on a sample, never the
    corpus; encoding the corpus with the result is ``pq_encode``'s
    distributed pass. Deterministic: seeded init from the sample itself.

    Returns an (m, k_codes, dsub) codebook accepted by pq_encode/pq_topk/
    ivfpq_topk."""
    import numpy as np

    _, X = _collect_vecs(sample, id_col, vec_col)
    if X is None:
        return np.zeros((PQ_M, 0, 0))
    n, dim = X.shape
    dsub = dim // PQ_M
    k = min(k_codes, n)
    rng = np.random.RandomState(seed)
    cb = np.empty((PQ_M, k, dsub))
    for j in range(PQ_M):
        Xs = X[:, j * dsub:(j + 1) * dsub]
        C = Xs[rng.choice(n, size=k, replace=False)].copy()
        for _ in range(iters):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            a = np.argmin(d2, axis=1)
            for c in range(k):
                hit = a == c
                if hit.any():
                    C[c] = Xs[hit].mean(axis=0)
                # empty cells keep their previous centroid (kmeans_fit rule)
        cb[j] = C
    return cb


def semantic_dedup_scores(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized_assign: bool = False,
) -> DataFrame:
    """The threshold-free half of ``semantic_dedup``: per vector, the MAX
    (rounded) cosine to any LOWER-ID cluster-mate (NULL when it has none,
    or when the similarities are NaN zero-vector cases). Any threshold's
    verdicts derive as ``kept = max_lower_sim IS NULL OR max_lower_sim <
    t`` — so a threshold SWEEP (the tuning loop SemDeDup deployments run)
    costs ONE gram-matrix pass instead of one per candidate threshold
    (agreement-tested against semantic_dedup in test_round6_ops.py)."""
    import numpy as np
    import pandas as pd

    # vectorized_assign: the BLAS batch argmax — REQUIRED once cells grow
    # toward sqrt(N) (the deployment shape), where the expression form's
    # N x k interpreted dot products dominate the whole pipeline
    assign = assign_cells_vectorized if vectorized_assign else assign_cells
    cells = assign(corpus, centroids, id_col=id_col, vec_col=vec_col)

    def scores_in_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            S = _np_round_half_up(Vn @ Vn.T, 4)
        n = len(ids)
        # strictly-lower-triangular nanmax, vectorized: mask the diagonal
        # and upper triangle to NaN, reduce rows in C (the interpreted
        # per-row loop was O(n^2) Python at large cells)
        S2 = S.copy()
        S2[np.triu_indices(n)] = np.nan
        with np.errstate(all="ignore"):
            out = np.where(
                np.all(np.isnan(S2), axis=1), np.nan, np.nanmax(np.nan_to_num(S2, nan=-np.inf), axis=1)
            )
        return pd.DataFrame(
            {id_col: ids, "cell_id": pdf["cell_id"].to_numpy(), "max_lower_sim": out}
        )

    return cells.groupBy("cell_id").applyInPandas(
        scores_in_cell, schema=f"{id_col} long, cell_id long, max_lower_sim double"
    )


def knn_join_blocked(
    corpus: DataFrame,
    k: int = 3,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """kNN GRAPH construction — for EVERY vector, its k nearest
    within-block neighbors by cosine (a kNN self-join, not the query-set
    top-k of cosine_topk): the backbone relation for semantic dedup,
    cluster canonicalization, and graph-based curation, where the whole
    corpus needs neighbors, not just a probe set.

    Blocked like blocked_near_dup_pairs_vectorized: one shuffle on the
    block key, then each block's full cosine matrix as a single BLAS
    product (applyInPandas) emitting only k rows per vector — the
    quadratic is confined to blocks, output is O(k·N). At 100 TB the
    block key is an IVF cell or LSH bucket (multiprobe unions blocks for
    boundary recall, like sim_lsh_multiprobe); at test SF the block is
    the label column so the exact SQL oracle can reproduce the relation
    verbatim. Ranking uses 4-dp-rounded sims with neighbor-id
    tie-breaks, so ranks are engine-independent."""
    import numpy as np
    import pandas as pd

    def knn_in_block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        n = len(ids)
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        kk = min(k, n - 1)
        if kk <= 0:
            return pd.DataFrame(
                {id_col: ids[:0], "neighbor_id": ids[:0], "rank": np.array([], dtype=np.int32),
                 "cos_sim": np.array([], dtype=np.float64)}
            )
        # ROW-CHUNKED gram computation: a block of n vectors needs only a
        # chunk x n similarity slab at a time, never the full n x n matrix
        # (round 12: the single-block exact truth side of the kNN recall
        # row OOM-crashed a worker at 60k vectors — 28.8 GB dense; the
        # chunked kernel caps worker memory at chunk*n*8 bytes while the
        # per-row top-k result is identical)
        chunk = max(1, min(n, 4096, (1 << 27) // max(n, 1)))  # <=1 GB slab
        out_rows, out_cols, out_sims = [], [], []
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            with np.errstate(divide="ignore", invalid="ignore"):
                S = _np_round_half_up(Vn[lo:hi] @ Vn.T, 4)
            for i in range(lo, hi):
                S[i - lo, i] = -np.inf  # no self-edges
            # order: sim DESC, neighbor_id ASC — lexsort keys are last-first
            order = np.lexsort(
                (np.broadcast_to(ids, (hi - lo, n)), -S), axis=1
            )[:, :kk]
            out_rows.append(np.repeat(ids[lo:hi], kk))
            out_cols.append(ids[order].ravel())
            out_sims.append(np.take_along_axis(S, order, axis=1).ravel())
        return pd.DataFrame(
            {
                id_col: np.concatenate(out_rows),
                "neighbor_id": np.concatenate(out_cols),
                "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), n),
                "cos_sim": np.concatenate(out_sims),
            }
        )

    return (
        corpus.select(id_col, block_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(
            knn_in_block, schema=f"{id_col} long, neighbor_id long, rank int, cos_sim double"
        )
    )


def knn_join_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``knn_join_blocked`` on its DECLARED 100 TB block key — IVF cells
    with multiprobe boundary recall. Each vector lives in ONE home cell
    (nearest centroid, ties to the lowest cell_id — the assign_cells
    contract) and PROBES its ``nprobe`` nearest cells; its candidate set
    is the home-members of the probed cells, so a true neighbor just
    across a cell boundary is still found, and no candidate pair can
    appear twice (a neighbor has exactly one home cell).

    Dataflow: one mapInPandas pass fans each vector out to its nprobe
    probe cells (centroid scores as one BLAS product per Arrow batch,
    centroids broadcast), ONE hash exchange on cell_id into the
    per-cell probers x members BLAS kernel emitting at most k rows per
    (vector, cell), then the global top-k merge over <= nprobe*k rows
    per vector. The quadratic is confined to cells — O(sum cell^2)
    instead of O(sum block^2) on whatever label the caller had — and at
    k_cells ~ sqrt(N) the whole graph build is ~O(N^1.5 / sqrt(cells))
    flops with O(k*N*nprobe) shuffle bytes after the kernel. Local
    selection key == global merge key ((rounded sim desc, id asc)), so
    per-cell pruning cannot change final ranks; with nprobe >= number
    of cells the result equals the exact single-block kNN graph
    (pinned in tests/test_round2_ops.py)."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    cent_pdf = (
        centroids.select(F.col(id_col).alias("cell_id"), _as_double(vec_col).alias("cv"))
        .toPandas()
        .sort_values("cell_id")
    )
    if len(cent_pdf) == 0:
        return _empty_result(spark).selectExpr(
            "query_id as " + id_col, "neighbor_id", "rank", "cos_sim"
        )
    cell_ids = cent_pdf["cell_id"].to_numpy()
    Cent = np.stack(cent_pdf["cv"].to_numpy()).astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        CentN = Cent / np.linalg.norm(Cent, axis=1, keepdims=True)
    nprobe = min(nprobe, len(cell_ids))
    bc = spark.sparkContext.broadcast((cell_ids, CentN, nprobe))

    def probe_fanout(batches):
        b_cell_ids, b_CentN, b_np = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
                S = Vn @ b_CentN.T
            # rank cells per vector by (sim desc nulls-last, cell_id asc)
            # — the assign_cells/ivf_topk_vectorized tie-break, extended
            # to the top nprobe
            order = np.lexsort(
                (np.broadcast_to(b_cell_ids, S.shape), _desc_nulls_last(S)), axis=1
            )
            probe_cells = b_cell_ids[order[:, :b_np]]  # n x nprobe
            n = len(pdf)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), b_np),
                    "v": np.repeat(pdf["v"].to_numpy(), b_np),
                    "cell_id": probe_cells.ravel(),
                    # rank-1 probe cell IS the home cell
                    "is_home": np.tile(
                        np.arange(b_np) == 0, n
                    ),
                }
            )

    fanned = corpus.select(F.col(id_col), _as_double(vec_col).alias("v")).mapInPandas(
        probe_fanout,
        schema=f"{id_col} long, v array<double>, cell_id long, is_home boolean",
    )

    def knn_in_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                id_col: np.array([], dtype=np.int64),
                "neighbor_id": np.array([], dtype=np.int64),
                "cos_sim": np.array([], dtype=np.float64),
            }
        )
        members = pdf[pdf["is_home"]]
        if len(members) == 0 or len(pdf) == 0:
            return empty
        p_ids = pdf[id_col].to_numpy()
        m_ids = members[id_col].to_numpy()
        P = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        M = np.stack(members["v"].to_numpy()).astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            Pn = P / np.linalg.norm(P, axis=1, keepdims=True)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            S = _np_round_half_up(Pn @ Mn.T, 4)
        kk = min(k, len(m_ids))
        if kk <= 0:
            return empty
        # self-pairs sort past EVERYTHING (even NaN/NULL sims, which are
        # legitimate zero-vector candidates ranking nulls-last like the
        # oracle); local selection key == global merge key ((not-self,
        # rounded sim desc nulls-last, neighbor_id asc)) so per-cell
        # pruning can't change final ranks
        is_self = p_ids[:, None] == m_ids[None, :]
        order = np.lexsort(
            (np.broadcast_to(m_ids, S.shape), _desc_nulls_last(S), is_self), axis=1
        )[:, :kk]
        sims = np.take_along_axis(S, order, axis=1)
        keep = ~np.take_along_axis(is_self, order, axis=1)
        return pd.DataFrame(
            {
                id_col: np.broadcast_to(p_ids[:, None], sims.shape)[keep],
                "neighbor_id": m_ids[order][keep],
                "cos_sim": sims[keep],
            }
        )

    local = fanned.groupBy("cell_id").applyInPandas(
        knn_in_cell, schema=f"{id_col} long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "neighbor_id", "rank", "cos_sim")
    )


def rrf_fuse(
    legs: list[tuple[str, DataFrame, str, str]],
    k: int = 20,
    c: int = 60,
    out_id: str = "doc_id",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009) of
    N independently-ranked retrieval legs — the standard hybrid-search
    combiner (lexical BM25 + dense ANN is the ubiquitous pair): each leg
    contributes ``1/(c + rank)`` for the documents it ranked, missing legs
    contribute 0, and the fused list re-ranks by the summed score. RRF is
    score-scale-free (only ranks matter), which is exactly why it works
    across heterogeneous retrievers without calibration.

    ``legs`` is ``[(name, ranked_df, id_col, rank_col), ...]``; each
    ranked_df is a per-retriever top-k relation (id + 1-based rank). The
    output carries one ``<name>_rank`` column per leg (NULL where the leg
    missed the doc), the 6-dp ``rrf_score``, and the fused 1-based
    ``rank``, trimmed to the top ``k``.

    Scale shape: the expensive work happened upstream in the legs (the
    inverted-index BM25 probe, the partition-pruned ANN probe — each
    already 100 TB-designed in this package); fusion itself touches only
    N tiny top-k relations, so the chain of full-outer joins and the final
    rank run on at most N*k rows — broadcast-trivial, no corpus-scale
    shuffle, nothing on the driver. Determinism: 1/(c+rank) is exact IEEE
    arithmetic on small integers summed in the legs' declared order, ties
    break on id.

    Preconditions (ADVICE r13 — misuse fails loudly like the other public
    entry points): ``legs`` must be non-empty, and each leg's ranked_df
    must hold ONE row per id (a duplicate id would multiply rows through
    the full-outer join chain and double-count its leg's contribution —
    top-k relations satisfy this by construction)."""
    if not legs:
        raise ValueError("rrf_fuse: legs must be a non-empty list of ranked legs")
    parts = []
    for name, df, id_col, rank_col in legs:
        parts.append(
            df.select(
                F.col(id_col).cast("long").alias(out_id),
                F.col(rank_col).cast("int").alias(f"{name}_rank"),
            )
        )
    fused = functools.reduce(lambda a, b: a.join(b, out_id, "full_outer"), parts)
    score = None
    for name, *_ in legs:
        term = F.coalesce(
            F.lit(1.0) / (F.lit(float(c)) + F.col(f"{name}_rank")), F.lit(0.0)
        )
        score = term if score is None else score + term
    # non-foldable constant partition key (see bm25_topk): the fused
    # relation is <= N*k rows, so the "global" window is a single tiny task
    w = Window.partitionBy(F.substring(F.col(out_id).cast("string"), 0, 0)).orderBy(
        F.desc("__rrf"), F.asc(out_id)
    )
    return (
        fused.withColumn("__rrf", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            out_id,
            *[f"{name}_rank" for name, *_ in legs],
            F.round(F.col("__rrf"), 6).alias("rrf_score"),
            "rank",
        )
    )


def matryoshka_topk(
    corpus: DataFrame,
    queries: DataFrame,
    d_prefix: int = 16,
    m_shortlist: int = 50,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage exact-rerank ANN over PREFIX dimensions (the Matryoshka /
    MRL pattern, Kusupati et al. 2022): score the whole corpus on only the
    first ``d_prefix`` of D dimensions (cheap pass — at 100 TB the prefix
    scan reads d/D of the vector bytes when vectors are stored
    dimension-sliced, and the BLAS product is d/D the FLOPs), take an
    ``m_shortlist`` candidate set per query, then rerank ONLY those
    candidates with the exact full-dimension cosine and keep top ``k``.

    Output (query_id, neighbor_id, rank, cos_sim, prefix_rank): cos_sim is
    the exact full-D cosine; prefix_rank preserves the stage-1 position so
    recall diagnostics (how far the prefix ordering strays) ride along for
    free. Recall is governed by m_shortlist/k, exactly like nprobe in IVF;
    at m_shortlist >= corpus size the result equals the exact brute force.

    Physical shape: stage 1 is ``cosine_topk_vectorized`` on sliced
    vectors (broadcast query matrix, Arrow-batched BLAS, local top-m per
    partition — no corpus shuffle); stage 2 joins the tiny
    (n_queries x m) shortlist back to the corpus vectors (equi-join on
    the shortlist side, which broadcasts) and folds the exact cosine
    JVM-side; the final per-query top-k window runs over n_queries x m
    rows. Ties break on (rounded cos desc, id asc), both stages."""
    pref = F.slice(F.col(vec_col), 1, d_prefix)
    c_pref = corpus.select(F.col(id_col), pref.alias(vec_col))
    q_pref = queries.select(F.col(id_col), pref.alias(vec_col))
    shortlist = cosine_topk_vectorized(c_pref, q_pref, k=m_shortlist,
                                       id_col=id_col, vec_col=vec_col)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    shortlist = shortlist.withColumn("prefix_rank", F.row_number().over(w)).select(
        "query_id", "neighbor_id", "prefix_rank"
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    )
    exact = (
        shortlist.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "cos_sim",
            F.round(
                _dot(F.col("__qv"), F.col("__cv"))
                / (_norm(F.col("__qv")) * _norm(F.col("__cv"))),
                4,
            ),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim", "prefix_rank")
    )
