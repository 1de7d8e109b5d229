"""k-means IVF quantizer: convergence and assignment-quality checks."""

from pyspark.sql import functions as F

from execute_sync_spark.functions import similarity


def _avg_sim_to_centroid(corpus, centroids):
    cells = similarity.assign_cells(corpus, centroids)
    cent = centroids.select(
        F.col("vec_id").alias("cell_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    joined = cells.join(F.broadcast(cent), "cell_id").select(
        similarity.cosine(F.col("v"), F.col("cv")).alias("sim")
    )
    return joined.agg(F.avg("sim")).first()[0]


def test_kmeans_improves_over_naive_centroids(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    naive = emb.filter(F.col("vec_id") < 8)
    fitted = similarity.kmeans_fit(emb, k=8, iters=4)
    assert fitted.count() == 8
    assert len(fitted.first().embedding) == 64

    before = _avg_sim_to_centroid(emb, naive)
    after = _avg_sim_to_centroid(emb, fitted)
    # fitted centroids explain the corpus better than arbitrary vectors
    assert after > before

    # deterministic: same fit twice
    again = similarity.kmeans_fit(emb, k=8, iters=4)
    a = sorted(tuple(r.embedding) for r in fitted.collect())
    b = sorted(tuple(r.embedding) for r in again.collect())
    assert a == b

