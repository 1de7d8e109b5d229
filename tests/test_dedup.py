"""D1/D2/D3 golden + DuckDB-oracle tests (SURVEY §2.D).

The oracle SQL mirrors the reference's generated view SQL
(snowflake.go:264-287) over the exact same landed rows.
"""

import pytest
from pyspark.sql import functions as F

from execute_sync_spark.operators import latest, latest_all_versions, superseded_rows
from tests.fixtures import feed
from tests.util import assert_df_equal

# inner-join formulation, as in the reference's SQL Server / Databricks
# dialects (sqlserver.go:213-226, databricks.go:293-304)
D1_ORACLE = """
SELECT ed.* FROM landing ed
JOIN (SELECT type, id, version, MAX(batch_date) AS batch_date
      FROM landing GROUP BY type, id, version) k
USING (type, id, version, batch_date)
"""

D2_ORACLE = f"""
SELECT ed.* FROM ({D1_ORACLE}) ed
JOIN (SELECT type, id, MAX(version) AS version
      FROM landing GROUP BY type, id) k2
USING (type, id, version)
"""


def test_d1_latest_all_versions(landed):
    df, con = landed
    d1 = latest_all_versions(df)
    # afe-0001 v2 landed in batches 2 and 3 → only the batch-3 copy survives
    rows = d1.filter((F.col("id") == "afe-0001") & (F.col("version") == 2)).collect()
    assert len(rows) == 1
    assert rows[0].batch_date == feed.BATCH_DATES[2].replace(tzinfo=None)
    # every version is still present
    assert d1.filter(F.col("id") == "afe-0002").count() == 3
    assert_df_equal(d1, con.sql(D1_ORACLE), "D1")


def test_d2_latest(landed):
    df, con = landed
    d2 = latest(df)
    # current state per document; soft-deleted afe-0002 v3 visible
    afe2 = d2.filter(F.col("id") == "afe-0002").collect()
    assert len(afe2) == 1 and afe2[0].version == 3 and afe2[0].deleted is True
    # all chunk rows of tkt-0001 v1 kept
    assert d2.filter(F.col("id") == "tkt-0001").count() == 4
    assert_df_equal(d2, con.sql(D2_ORACLE), "D2")


def test_shrinking_chunks_no_stale_leak(spark):
    """Regression: when the current version (or newest land of a version) has
    FEWER chunks than an older one, no stale chunk of the superseded copy may
    leak through."""
    from datetime import datetime

    from execute_sync_spark.landing.schema import LANDING_SCHEMA

    b1, b2 = datetime(2024, 1, 1), datetime(2024, 1, 2)
    rows = [
        # v1 landed with 3 chunks; v2 (current) with only 1 chunk
        (b1, "AFE", "doc-1", 1, 0, None, None, False, "{}"),
        (b1, "AFE", "doc-1", 1, 1, None, None, False, "{}"),
        (b1, "AFE", "doc-1", 1, 2, None, None, False, "{}"),
        (b2, "AFE", "doc-1", 2, 0, None, None, False, "{}"),
        # same VERSION re-landed in a newer batch with fewer chunks
        (b1, "AFE", "doc-2", 1, 0, None, None, False, "{}"),
        (b1, "AFE", "doc-2", 1, 1, None, None, False, "{}"),
        (b2, "AFE", "doc-2", 1, 0, None, None, False, "{}"),
    ]
    df = spark.createDataFrame(rows, LANDING_SCHEMA)

    d1 = latest_all_versions(df)
    # doc-2 v1: only the batch-2 copy (1 chunk) survives D1
    got = [(r.chunk, r.batch_date) for r in d1.filter(F.col("id") == "doc-2").collect()]
    assert got == [(0, b2)], got

    d2 = latest(df)
    # doc-1: only v2's single chunk; v1's chunks 1,2 must not leak
    got = sorted((r.version, r.chunk) for r in d2.filter(F.col("id") == "doc-1").collect())
    assert got == [(2, 0)], got


def test_d3_superseded(landed):
    df, con = landed
    sup = superseded_rows(df)
    oracle = con.sql(f"SELECT * FROM landing EXCEPT SELECT * FROM ({D1_ORACLE})")
    assert_df_equal(sup, oracle, "D3 superseded")
    # exactly one superseded row in the fixture: afe-0001 v2 from batch 2
    rows = sup.collect()
    assert len(rows) == 1
    assert rows[0].id == "afe-0001" and rows[0].version == 2
    assert rows[0].batch_date == feed.BATCH_DATES[1].replace(tzinfo=None)


def test_d3_prune_parquet(spark, landed, tmp_path):
    from execute_sync_spark.operators import prune_parquet

    df, _ = landed
    path = str(tmp_path / "landing_pq")
    df.write.partitionBy("type").parquet(path)
    removed = prune_parquet(spark, path)
    assert removed == 1
    assert spark.read.parquet(path).count() == df.count() - 1
    # idempotent: second prune removes nothing
    assert prune_parquet(spark, path) == 0


def test_replay_idempotency(spark, landed):
    """Crash-replay: if the watermark write is lost, the next sync re-ingests
    the same documents under a NEW batch_date (SURVEY §3.1 watermark-after-
    upload contract). D1/D2 results must be unchanged in count and content."""
    from datetime import timedelta

    from execute_sync_spark.landing import land_ndjson_lines

    df, _ = landed
    replay = land_ndjson_lines(
        spark,
        feed.batch_lines()[2],
        feed.BATCH_DATES[2] + timedelta(days=1),
        chunk_size=feed.CHUNK_SIZE,
    )
    doubled = df.unionByName(replay)
    assert latest(doubled).count() == latest(df).count()
    assert latest_all_versions(doubled).count() == latest_all_versions(df).count()
    # content identical except batch_date of the replayed rows
    before = {tuple(r) for r in latest(df).drop("batch_date").collect()}
    after = {tuple(r) for r in latest(doubled).drop("batch_date").collect()}
    assert before == after


def test_lsh_max_bucket_valve(spark):
    """The bucket-size valve drops only oversized buckets: with a cap larger
    than every bucket the result is identical to the unvalved form; with a
    tiny cap the candidate set shrinks (mega-buckets skipped) but remains a
    subset of the unvalved pairs."""
    from execute_sync_spark.functions import dedupe

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = dedupe.minhash_signatures(docs)
    full = set(map(tuple, dedupe.lsh_candidate_pairs(sigs).collect()))
    assert full

    same = set(map(tuple, dedupe.lsh_candidate_pairs(sigs, max_bucket=10**9).collect()))
    assert same == full

    capped = set(map(tuple, dedupe.lsh_candidate_pairs(sigs, max_bucket=2).collect()))
    assert capped <= full


def test_duplicate_spans_hand_corpus(spark):
    """Span semantics (Lee et al. 2022 exact-substring dedup): two documents
    share a 7-word sentence -> with k=5 every overlapping gram of that
    sentence is corpus-repeated, and the positions merge into ONE maximal
    span per document covering exactly the shared words. Unique text around
    the span stays unflagged; a doc with no repeats emits no rows."""
    from pyspark.sql import functions as F

    from execute_sync_spark.functions import dedupe

    shared = "the quick brown fox jumps over fences"  # 7 words
    rows = [
        (1, f"alpha beta {shared} gamma delta"),        # span at words 2..8
        (2, f"{shared} epsilon zeta eta theta iota"),   # span at words 0..6
        (3, "completely unrelated text with no repeated grams here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        r.doc_id: (r.span_start, r.span_end, r.span_tokens)
        for r in dedupe.duplicate_spans(docs, k=5).collect()
    }
    assert spans == {1: (2, 8, 7), 2: (0, 6, 7)}

    # self-repetition inside ONE document counts too (paper semantics)
    solo = spark.createDataFrame(
        [(9, "one two three four five filler one two three four five")],
        "doc_id long, text string",
    )
    got = [tuple(r) for r in dedupe.duplicate_spans(solo, k=5).collect()]
    assert got == [(9, 0, 4, 5), (9, 6, 10, 5)]


def test_remove_duplicate_spans_cuts_only_the_shared_words(spark):
    """Span REMOVAL: the shared sentence disappears from both documents, the
    unique surrounding words survive in order, and untouched documents come
    back verbatim (lowercased) with zero removed."""
    from execute_sync_spark.functions import dedupe

    shared = "the quick brown fox jumps over fences"
    rows = [
        (1, f"Alpha beta {shared} gamma delta"),
        (2, f"{shared} epsilon zeta"),
        (3, "completely unrelated text with no repeated grams here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedupe.remove_duplicate_spans(docs, k=5).collect()}
    assert out[1].clean_text == "alpha beta gamma delta"
    assert (out[1].n_tokens, out[1].n_tokens_removed) == (11, 7)
    assert out[2].clean_text == "epsilon zeta"
    assert (out[2].n_tokens, out[2].n_tokens_removed) == (9, 7)
    assert out[3].clean_text == rows[2][1]
    assert out[3].n_tokens_removed == 0

    # a document that is ENTIRELY a duplicated span empties cleanly
    dup_all = spark.createDataFrame(
        [(7, "one two three four five"), (8, "one two three four five")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dedupe.remove_duplicate_spans(dup_all, k=5).collect()}
    assert got[7].clean_text == "" and got[7].n_tokens_removed == 5
    assert got[8].clean_text == "" and got[8].n_tokens_removed == 5


def test_span_hash_width_agreement(spark):
    """hash_bits=64 (xxhash64, the scale default — the 32-bit md5-prefix
    key makes the corpus-frequency count itself collide at ~10^12 grams,
    VERDICT r6 #1) must produce IDENTICAL spans and identical span-removal
    output to the oracle-pinned 32-bit form on the real documents table,
    where 32-bit collisions are ~0. Also: the default IS 64-bit."""
    import inspect

    from tests.conftest import SF_DIR

    from execute_sync_spark.functions import dedupe

    assert inspect.signature(dedupe.duplicate_spans).parameters["hash_bits"].default == 64
    assert inspect.signature(dedupe.remove_duplicate_spans).parameters["hash_bits"].default == 64

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    s32 = sorted(map(tuple, dedupe.duplicate_spans(docs, k=5, hash_bits=32).collect()))
    s64 = sorted(map(tuple, dedupe.duplicate_spans(docs, k=5, hash_bits=64).collect()))
    assert s32 == s64 and len(s64) > 0

    r32 = sorted(map(tuple, dedupe.remove_duplicate_spans(docs, k=5, hash_bits=32).collect()))
    r64 = sorted(map(tuple, dedupe.remove_duplicate_spans(docs, k=5).collect()))
    assert r32 == r64

    with pytest.raises(ValueError):
        dedupe.duplicate_spans(docs, hash_bits=48)
