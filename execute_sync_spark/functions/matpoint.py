"""Shared-subtree materialization points (optimization round 17).

Round 16 added eager ``localCheckpoint`` calls wherever a corpus-shaped
subtree fed several consumers inside one plan (guide §2.4). The round-17
same-host A/B (OPTIMIZATION_r17.md) showed those checkpoints are NOT
uniformly wins: materializing a wide intermediate that whole-stage codegen
would otherwise pipeline into its consumers can cost more wall time than
the overlapped recompute it saves — it depends on the site (how expensive
the subtree is vs how wide its output is) and not on the profiler's task
core-seconds, which systematically flatter checkpoints.

Every round-16 *shared-subtree* checkpoint is therefore a labeled
``mat(df, site)`` point that can be disabled per site. Every site ships
enabled: in the paired interleaved A/B over the shingle family (BENCH_DETAIL
experiments.ab_mat_sites_shingle_r17) no site measured faster lazy.
Lineage-cutting checkpoints — iterative solvers, materialize-before-
overwrite in the cluster-state protocol — are NOT mat points: they are
load-bearing and stay unconditional.

``SPARK_GRAFT_MAT_OFF`` (comma-separated site labels, or ``all``)
disables sites at import time — the measurement/production knob. An A/B
of a site is two ``perfbench/run.py`` runs, one with the site disabled.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

DISABLED: set[str] = set()

_ALL_SITES = {
    "jaccard_shingles",      # ngram_jaccard_pairs: internal word_shingles
    "jaccard_valved",        # ngram_jaccard_pairs: post-max_df-valve set
    "containment_shingles",  # containment_pairs: internal word_shingles
    "containment_valved",    # containment_pairs: post-valve set
    "span_grams",            # duplicate_spans: hashed gram relation
    "nb_tf",                 # nb_quality_classifier: token-frequency rel
    "nb_tf_hashed",          # hashed twin's bucketed tf
    "ccnet_scored",          # ccnet_buckets_approx: internal scored rel
    "lm_grams",              # backoff_lm: uni/bi/tri gram source rel
    "graph_raw_edges",       # _canonical: raw projected edges
    "pagerank_edges",        # pagerank: pre-symmetrize projection
    "lpa_edges",             # label_propagation: pre-symmetrize projection
    "triangle_edges",        # triangle_counts: canonical edge relation
    "cluster_state_edges",   # build_cluster_state: edge plan
    "lsh_recall_shingles",   # dedup_lsh_recall: shared shingle relation
    "ccnet_row_scored",      # text_ccnet_buckets_approx: row-level scored
    "cluster_state_pool",    # update_cluster_state: 2-thread side overlap
    "pipeline_full_pool",    # curate_pipeline_full: 3-thread stage overlap
}


def _init_from_env() -> None:
    raw = os.environ.get("SPARK_GRAFT_MAT_OFF", "")
    if not raw:
        return
    if raw.strip() == "all":
        DISABLED.update(_ALL_SITES)
        return
    sites = {s.strip() for s in raw.split(",") if s.strip()}
    unknown = sites - _ALL_SITES
    if unknown:
        raise ValueError(
            f"SPARK_GRAFT_MAT_OFF: unknown site(s) {sorted(unknown)}; "
            f"expected 'all' or labels from {sorted(_ALL_SITES)}"
        )
    DISABLED.update(sites)


_init_from_env()


def on(site: str) -> bool:
    """True when the site's materialization / overlap is enabled."""
    return site not in DISABLED


def mat(df: DataFrame, site: str) -> DataFrame:
    """Eagerly materialize ``df`` unless ``site`` is disabled."""
    if site in DISABLED:
        return df
    return df.localCheckpoint(eager=True)
