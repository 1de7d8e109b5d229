"""Deduplication operators for large text corpora.

Scale notes (the 100 TB story):

- **exact**: one hash-groupBy shuffle on a 16-byte digest — the digest
  groupBy is the canonical map-side-combinable aggregation; skew only if the
  corpus contains one massively-duplicated document (AQE skew-join handles
  the subsequent join-back).
- **MinHash + LSH**: per-doc signature is an `explode -> groupBy(doc)` —
  shuffle keyed by doc_id, perfectly balanced. Candidate generation joins on
  (band, band-hash) buckets so the cross-product never materializes; band
  width tunes recall/cost.
- **n-gram Jaccard**: exact pairwise similarity via shingle inverted index
  (explode + self-join on shingle). Quadratic in the worst case — use only
  after LSH bucketing at scale; provided standalone for verification.
- **SimHash**: per-doc 16/64-bit signature via token explode + bit-count agg;
  near-dup = signatures within small Hamming distance.

Everything is built from explode / groupBy / join — no Python, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from execute_sync_spark.functions.matpoint import mat
from execute_sync_spark.functions.hashing import h32
from execute_sync_spark.functions.text import tokens

import os as _os

# round-17: shingle-identity joins run on xxhash64 longs by default; the
# string form stays selectable for A/B measurement and as the
# collision-free escape (see ngram_jaccard_pairs).
_HASH_JOIN_KEY = _os.environ.get("SPARK_GRAFT_SHINGLE_KEY", "hash") != "string"

# MinHash permutation family: h_i(x) = (A[i]*H(x) + B[i]) mod P with one base
# md5-prefix hash H — k permutations for the price of one digest. A[i] < 2^31
# keeps A*H < 2^63 (no overflow); P is the smallest prime above 2^32.
MINHASH_P = 4294967311
MINHASH_A = [1299721, 15485863, 32452843, 49979687, 67867967, 86028121, 104395301, 122949823]
MINHASH_B = [7, 101, 1009, 10007, 100003, 1000003, 9999991, 30000001]


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group documents by content digest; canonical id = min doc id."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def shingle_array(tok_col, k: int = 3):
    """Column expr: the DISTINCT k-word shingles of a *materialized token
    array column*, computed entirely per-row (sequence + element_at +
    concat_ws in whole-stage codegen) — shingling causes NO shuffle and NO
    explode. Takes an already-selected array column: passing a raw split()
    expression here would re-evaluate the split once per element access."""
    arr = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    n = F.size(arr)
    all_shingles = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(arr, i + j) for j in range(k)]),
    )
    return F.when(n >= k, F.array_distinct(all_shingles)).otherwise(
        F.array().cast("array<string>")
    )


def with_shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(id, __sh) with the per-row distinct shingle array materialized."""
    return docs.select(F.col(id_col), tokens(text_col).alias("__tok")).select(
        F.col(id_col), shingle_array("__tok", k).alias("__sh")
    )


def word_shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(id, shingle) pairs — the exploded (inverted-index) form, used where a
    shingle-keyed join is the algorithm (Jaccard). Distinctness is applied
    per-row via shingle_array before exploding: no extra distinct shuffle.

    explode_OUTER deliberately: plain explode pushes an implicit
    ``size(arr)>0 AND isnotnull(arr)`` filter below the Generate, inlining the
    whole shingle expression into an interpreted Filter and re-evaluating it
    2x per row (~7x slower end-to-end). The outer variant keeps the array
    expression evaluated exactly once; null rows are dropped afterwards."""
    return (
        with_shingles(docs, text_col, id_col, k)
        .select(F.col(id_col), F.explode_outer("__sh").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_k: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-document MinHash signature: mh_i = min over shingles of H(i # s).

    ``shingles`` (the ``ngram_jaccard_pairs`` contract, ADVICE r14): a
    precomputed ``word_shingles`` relation to aggregate instead of
    re-deriving one from ``docs`` — lets a caller that already
    materialized the shingle pass (``minhash_estimate_vs_true``) feed both
    sides from ONE scan.

    Physical shape: explode shingles -> md5-hash each ONCE (codegen'd) ->
    groupBy(doc) with k arithmetic MIN aggregates. Map-side partial
    aggregation reduces the shuffle to k longs per doc per map task — the
    shingle set itself never shuffles. (A tempting zero-shuffle alternative —
    array_min over per-row transform() — is ~5x slower in practice: Spark
    evaluates higher-order-function lambdas interpreted, and CollapseProject
    inlines the shared shingle/hash arrays into every one of the k min
    columns, recomputing them k times.)

    Sizing num_hashes/shingle_k at corpus scale: COVERAGE.md "Scale tuning
    knobs"."""
    assert num_hashes <= len(MINHASH_A)
    sh = (
        shingles
        if shingles is not None
        else word_shingles(docs, text_col, id_col, k=shingle_k)
    )
    hashed = sh.select(F.col(id_col), h32("shingle").alias("h"))
    aggs = [
        F.min((F.col("h") * F.lit(MINHASH_A[i]) + F.lit(MINHASH_B[i])) % F.lit(MINHASH_P)).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def band_buckets(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Signature rows -> (id, band, band_key) LSH bucket rows.

    One explode over an inline array of band structs — a single pass over
    the signatures instead of one scan per band. explode_outer so the
    signature expressions aren't re-inlined into a pre-Generate filter
    (see word_shingles); the band array is never empty."""
    band_structs = []
    for b in range(0, num_hashes, band_size):
        band_cols = [F.col(f"mh{i}") for i in range(b, min(b + band_size, num_hashes))]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(":", *[c.cast("string") for c in band_cols]).alias("band_key"),
            )
        )
    return signatures.select(
        F.col(id_col), F.explode_outer(F.array(*band_structs)).alias("bk")
    ).select(id_col, "bk.band", "bk.band_key")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = None,
    salt: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature become a candidate
    pair. Join key is (band_index, band values) — the full cross product is
    never formed. Sizing band_size/bands vs similarity threshold:
    COVERAGE.md "Scale tuning knobs".

    ``max_bucket`` is the bucket-size valve (the LSH analog of Jaccard's
    ``max_df``): a bucket holding m docs emits m^2/2 pairs, so one
    mega-bucket of boilerplate-identical documents dominates the join at
    corpus scale. Buckets larger than max_bucket are dropped BEFORE the
    self-join (those docs still pair through their other, more selective
    bands — standard practice in production near-dup pipelines). Default
    off for exact spec semantics (and the oracle).

    ``salt`` spreads a PATHOLOGICALLY skewed bucket key over S reducers
    (r5 VERDICT task 7: a boilerplate corpus where most docs share ONE
    signature hashes every row to a single task on raw (band, band_key)).
    With salt=S, (a) the valve's size lookup joins on (band, band_key,
    salt) — the size row replicated S ways, rows salted by hash(id) — and
    (b) pair generation replicates side A S ways against side B's salt, so
    one bucket's m^2 comparisons run across S^2 tasks instead of 1. Same
    result set as unsalted (regression-tested); pay the Sx replication
    only when the corpus is known boilerplate-heavy. Default off."""
    buckets = band_buckets(signatures, id_col, num_hashes, band_size)
    if salt is not None:
        buckets = buckets.withColumn(
            "_salt", F.pmod(F.hash(F.col(id_col)), F.lit(salt))
        )
    if max_bucket is not None:
        # same no-broadcast-hint rationale as the max_df valve: the kept
        # bucket-key set grows with the corpus; both sides are already
        # keyed by (band, band_key), AQE broadcasts when genuinely small
        sizes = (
            buckets.groupBy("band", "band_key")  # partial agg: skew-immune
            .agg(F.count("*").alias("m"))
            .filter(F.col("m") <= max_bucket)
            .select("band", "band_key")
        )
        if salt is not None:
            # replicate each kept-size row S ways so the row->size shuffle
            # hashes on (band, band_key, _salt), not the skewed raw key
            sizes = sizes.withColumn(
                "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
            )
            buckets = buckets.join(sizes, ["band", "band_key", "_salt"], "left_semi")
        else:
            buckets = buckets.join(sizes, ["band", "band_key"], "left_semi")
    a = buckets.alias("a")
    b = buckets.alias("b")
    if salt is not None:
        # blocked self-join: A replicated against every salt block of B;
        # the shuffle key (band, band_key, salt) splits a mega bucket's
        # pair generation across S^2 tasks
        a = buckets.withColumn(
            "_rep", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        ).alias("a")
        joined = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a._rep") == F.col("b._salt")),
        )
    else:
        joined = a.join(b, ["band", "band_key"])
    return (
        joined.filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_count: int = 2,
    hash_bits: int = 64,
) -> DataFrame:
    """Exact-substring duplicate SPANS — the span-level dedup of Lee et al.
    2022 ("Deduplicating Training Data Makes Language Models Better"),
    re-expressed relationally instead of via a suffix array: a word position
    is *duplicated* when its k-word gram occurs >= ``min_count`` times
    across the whole corpus (counting repeats inside one document too, as
    the paper does); maximal runs of duplicated positions merge into spans
    via gaps-and-islands. Downstream curation can cut the spans out rather
    than dropping whole documents.

    Returns (id, span_start, span_end, span_tokens) with 0-based inclusive
    word positions.

    Scale shape: gram frequency is one map-side-combined groupBy on a gram
    hash (shuffle = one long per gram per map task — the same shuffle
    budget as minhash_signatures); the position join-back is a semi-join on
    that hash (bloom-filter prunable); span merging is ONE per-document
    window. No self-joins, nothing quadratic — the suffix array the paper
    builds is global sequential state, this is not.

    ``hash_bits`` sizes the gram key, and here the hash IS the verdict:
    unlike MinHash banding (where a collision only adds a candidate that
    exact scoring rejects), a colliding gram pair directly inflates
    ``__c`` and can mark clean text as duplicated. At 32 bits (md5-prefix
    ``h32``, the DuckDB-reconstructible form the gated queries pin) a
    ~10^12-gram corpus puts ~250 distinct grams in EVERY bucket —
    unusable at that scale. The 64-bit default (``F.xxhash64``, JVM
    codegen) expects only ~n^2/2^65 colliding pairs ≈ 3×10^4 of 10^12
    grams (~3×10^-8 false-dup rate) — negligible against min_count.
    Agreement at fixture scale is pinned by
    test_dedup.py::test_span_hash_width_agreement; the sizing row
    lives in COVERAGE.md "Scale tuning knobs"."""
    if hash_bits not in (32, 64):
        raise ValueError(f"hash_bits must be 32 or 64, got {hash_bits}")
    gram_hash = h32 if hash_bits == 32 else F.xxhash64
    toks = docs.select(F.col(id_col), tokens(text_col).alias("__tok"))
    arr = F.col("__tok")
    n = F.size(arr)
    gram_arr = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", *[F.element_at(arr, i + j) for j in range(k)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = (
        toks.select(F.col(id_col), F.posexplode_outer(gram_arr).alias("pos", "__g"))
        .filter(F.col("__g").isNotNull())
        .select(F.col(id_col), F.col("pos"), gram_hash("__g").alias("__h"))
    )
    # the gram relation feeds BOTH the frequency aggregation and the
    # position semi-join probe below; without materialization the
    # corpus-shaped k-gram build (per-position k-word concat + hash —
    # the dominant cost of this operator, r16 profile) executes twice.
    # Narrow rows only (id, pos, hash) — the gram strings are hashed
    # before the checkpoint, so nothing corpus-text-sized is pinned.
    grams = mat(grams, "span_grams")
    repeated = (
        grams.groupBy("__h")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__h")
    )
    dup = grams.join(repeated, "__h", "left_semi")
    # gaps-and-islands over gram START positions, but with token-range
    # semantics: starts p < q yield overlapping-or-touching k-token ranges
    # whenever q <= p + k, so only a gap of MORE than k starts a new island
    # (plain pos - row_number() would leave touching/overlapping spans
    # unmerged — caught by test_duplicate_span_invariants). Both window
    # functions share one partition+sort, so this is still a single pass.
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) > k, 1).otherwise(0)
    islands = dup.withColumn("__brk", brk).withColumn("__isl", F.sum("__brk").over(w))
    return (
        islands.groupBy(id_col, "__isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("long").alias("span_end"),
        )
        .select(
            F.col(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_count: int = 2,
    hash_bits: int = 64,
) -> DataFrame:
    """The actionable half of ``duplicate_spans`` (Lee et al. 2022): CUT the
    corpus-repeated spans out of each document instead of dropping the
    document. Returns (id, clean_text, n_tokens, n_tokens_removed) where
    clean_text is the space-joined surviving tokens (lowercased — same
    normalization the span positions were computed over).

    Scale shape: spans aggregate to ONE small array per affected document
    (collect_list over the span rows — bounded by dup volume, not corpus
    size), broadcast-joinable back to the corpus; the cut itself is a
    per-row ``filter`` higher-order function over token positions — no
    extra shuffle beyond duplicate_spans' own. ``hash_bits`` passes
    through to duplicate_spans (see its docstring: 64-bit default is the
    scale path; 32-bit is the oracle-reconstructible pin)."""
    spans = (
        duplicate_spans(docs, text_col, id_col, k, min_count, hash_bits)
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("span_start", "span_end")).alias("__spans"))
    )
    toks = docs.select(F.col(id_col), tokens(text_col).alias("__tok"))
    joined = toks.join(spans, id_col, "left").select(
        F.col(id_col),
        "__tok",
        F.coalesce("__spans", F.array().cast("array<struct<span_start:long,span_end:long>>")).alias("__spans"),
    )
    in_span = lambda i: F.exists(  # noqa: E731
        F.col("__spans"), lambda s: (i >= s["span_start"]) & (i <= s["span_end"])
    )
    kept = F.filter(F.col("__tok"), lambda x, i: ~in_span(i.cast("long")))
    return joined.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        F.size("__tok").cast("long").alias("n_tokens"),
        (F.size("__tok") - F.size(kept)).cast("long").alias("n_tokens_removed"),
    )


def incremental_lsh_dedup(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    broadcast_new: bool = True,
) -> DataFrame:
    """Incremental ingest dedup: flag NEW-batch documents whose MinHash
    signature collides (any LSH band) with the persisted corpus index —
    the production shape where the corpus was signed once at ingest time
    and each arriving batch is checked against it without re-reading
    corpus text.

    Physical shape at 100 TB: the corpus banded index is the big side and
    NEVER shuffles — the (typically tiny) new batch broadcasts to it
    (``broadcast_new``); with a bucketed/partitioned index table the probe
    is a local hash join per partition. A signature depends only on its own
    document, so signing the two sides separately is semantics-identical to
    one global signing pass.

    Returns distinct (new_id, corpus_id) collision pairs."""
    nb = band_buckets(new_sigs, id_col, num_hashes, band_size).withColumnRenamed(
        id_col, "new_id"
    )
    cb = band_buckets(corpus_sigs, id_col, num_hashes, band_size).withColumnRenamed(
        id_col, "corpus_id"
    )
    if broadcast_new:
        nb = F.broadcast(nb)
    return nb.join(cb, ["band", "band_key"]).select("new_id", "corpus_id").distinct()


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.05,
    max_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs above ``threshold``,
    via a shingle inverted index (explode + self-equi-join + count).

    ``shingles`` optionally supplies a PRECOMPUTED (id_col, shingle)
    relation (per-doc-distinct, same k — word_shingles output, typically
    ``localCheckpoint``ed) so a composite query that also needs the
    shingle relation elsewhere (e.g. decontamination in
    curate_pipeline_fuzzy) tokenizes the corpus ONCE and feeds every
    consumer from the materialized partitions instead of re-running the
    regex+explode pass per consumer (VERDICT r11 #1).

    ``max_df`` is the scale valve: a shingle appearing in d documents
    contributes d^2 join rows, so one stop-phrase shared by a million docs
    explodes the join. Dropping shingles with document frequency > max_df
    before the join bounds the blowup (standard near-dup practice). Note the
    similarity is then measured over the RARE-shingle space: intersection
    counts only shrink, but ratios can rise because document sizes shrink
    too. Default off for exact semantics (and the oracle). Sizing max_df:
    COVERAGE.md "Scale tuning knobs"."""
    # The (valved) shingle relation feeds FOUR consumer subtrees below —
    # sizes plus both sides of the self-join (and, valved, the df table and
    # the semi-join's probe side). Spark materializes none of them: each
    # reference re-runs the tokenize+explode pass from the scan (the r16
    # profiler measured the subtree executed 4x inside one plan, ~60-85
    # core-sec per valved query at sf0.1). Eagerly localCheckpoint ONCE so
    # every consumer reads materialized partitions — the exact pattern the
    # fuzzy pipelines already use when they pass ``shingles=`` in
    # (guide §2.4/§5: one pass, reuse; cost is one corpus-token-sized
    # executor-memory/disk materialization, the same bound the valve
    # already imposes on the join input).
    # Join on xxhash64(shingle) longs, not 20-40 byte shingle STRINGS
    # (guide §2.3: narrower types / shuffle keys instead of payloads —
    # round 17). The shingle value never reaches the output (only per-pair
    # counts and ratios do), and the df valve, the sizes aggregate and the
    # self-join all depend only on shingle IDENTITY, so hashing first is
    # result-identical up to a 64-bit collision among the corpus's distinct
    # shingles (~5e6 shingles at sf0.1 -> P ~ 7e-7; the string-keyed DuckDB
    # oracle independently verifies every gated consumer). Every exchange,
    # hash table and checkpoint downstream carries 8-byte longs.
    # SPARK_GRAFT_SHINGLE_KEY=string keeps the literal-string join for
    # A/B measurement (BENCH_DETAIL experiments.ab_shingle_hash_key_r17) and
    # as the collision-free escape.
    key = F.xxhash64("shingle") if _HASH_JOIN_KEY else F.col("shingle")
    if shingles is not None:
        sh = shingles.select(F.col(id_col), key.alias("__sh64"))
    else:
        sh = mat(
            word_shingles(docs, text_col, id_col, k=shingle_k).select(
                F.col(id_col), key.alias("__sh64")
            ),
            "jaccard_shingles",
        )
    if max_df is not None:
        # NOTE: no broadcast hint — the kept (df<=max_df) shingle set IS most
        # of the vocabulary at corpus scale (rare shingles dominate any
        # Zipf-ish corpus), so an unconditional broadcast would OOM the
        # driver at 100 TB. Both sides are shingle-keyed; the semi-join
        # shuffles once, and AQE still picks broadcast when genuinely small.
        rare = (
            sh.groupBy("__sh64")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("__sh64")
        )
        sh = mat(sh.join(rare, "__sh64", "left_semi"), "jaccard_valved")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "__sh64")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "jaccard")
    )


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """Per-document SimHash signature over whitespace tokens.

    bit_b(doc) = 1 iff sum over token occurrences of (2*((H(tok)>>b)&1)-1) > 0.

    Pure per-row computation: hash the token array once with transform(), then
    fold each bit's +-1 contributions with aggregate(). ZERO shuffles (the
    explode + groupBy(doc) formulation shuffles every token).
    """
    hashes = F.transform(tokens(text_col), lambda w: h32(w))
    row = docs.select(F.col(id_col), hashes.alias("__h"))
    sig = None
    for b in range(bits):
        s_b = F.aggregate(
            F.col("__h"),
            F.lit(0).cast("long"),
            lambda acc, h: acc + (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1),
        )
        bit = F.when(s_b > 0, F.lit(2**b)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return row.select(F.col(id_col), sig.cast("long").alias("simhash"))


BLOOM_BITS = 1 << 17          # 131072 bits = 4096 32-bit words
BLOOM_SEEDS = (11, 23)        # k = 2 independent md5-prefix hash functions


def _bloom_positions(shingle_col, seed: int):
    from execute_sync_spark.functions.hashing import h32_salted

    return h32_salted(shingle_col, seed) % F.lit(BLOOM_BITS)


def bloom_build(eval_docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Build a bloom filter over the eval corpus's word k-grams as a TABLE
    of (word_idx, bits) 32-bit words — pure relational ops (explode bit
    positions, bit_or aggregate), no engine-internal sketch type, so the
    identical filter is constructible in any SQL warehouse for the oracle.

    This is the 100 TB decontamination shape when the eval set is too big
    to broadcast as an inverted index: the filter is FIXED-SIZE
    (BLOOM_BITS/32 rows ~ KBs) regardless of eval corpus size, with the
    usual guarantee — no false negatives, tunable false-positive rate."""
    sh = word_shingles(eval_docs, text_col, id_col, k).select("shingle").distinct()
    pos = sh.select(
        F.explode(F.array(*[_bloom_positions(F.col("shingle"), s) for s in BLOOM_SEEDS])).alias("pos")
    )
    return (
        pos.select(
            (F.col("pos") / 32).cast("int").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_probe_contamination(
    train: DataFrame,
    bloom_words: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_shared: int = 2,
) -> DataFrame:
    """Flag training docs with >= ``min_shared`` distinct k-grams that the
    bloom filter says may occur in the eval corpus. A SUPERSET of the exact
    cross_contamination doc set (bloom filters have no false negatives);
    the survivors go through the exact join — which then runs on a tiny
    fraction of the corpus. The filter table broadcasts; the train shingle
    stream never shuffles before the final per-doc count."""
    t = (
        word_shingles(train, text_col, id_col, k)
        .select(F.col(id_col).alias("train_id"), "shingle")
        .distinct()
    )
    probes = t.select(
        "train_id",
        "shingle",
        F.explode(F.array(*[_bloom_positions(F.col("shingle"), s) for s in BLOOM_SEEDS])).alias("pos"),
    ).select(
        "train_id",
        "shingle",
        (F.col("pos") / 32).cast("int").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("mask"),
    )
    hits = (
        probes.join(F.broadcast(bloom_words), "word_idx", "left")
        .select(
            "train_id",
            "shingle",
            (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask")) != 0).cast("int").alias("hit"),
        )
        .groupBy("train_id", "shingle")
        .agg(F.sum("hit").alias("n_hits"))
        .filter(F.col("n_hits") == len(BLOOM_SEEDS))
    )
    return (
        hits.groupBy("train_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_maybe_shared"))
        .filter(F.col("n_maybe_shared") >= min_shared)
    )


def cross_contamination(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_shared: int = 2,
    train_shingles: DataFrame | None = None,
    eval_shingles: DataFrame | None = None,
) -> DataFrame:
    """Train/eval contamination check: (train_id, eval_id, n_shared) for
    every training document sharing >= ``min_shared`` DISTINCT word k-grams
    with an eval document — the decontamination step of a training-data
    pipeline (benchmark text must not leak into the training corpus).

    Scale shape: the eval set is the BROADCAST side (benchmarks are
    thousands of docs; the train corpus is the 100 TB side), so the train
    shingle stream never shuffles for the join — each task probes its
    shingles against the broadcast eval inverted index, and map-side partial
    aggregation shrinks the per-(train,eval) intersection counts to one row
    per pair per task before the only shuffle (the count groupBy).

    ``train_shingles`` / ``eval_shingles`` optionally supply precomputed
    (id_col, shingle) relations (word_shingles output, same k) so a
    composite query shares ONE corpus tokenization pass across consumers;
    when given, the corresponding docs DataFrame may be None. Passing a
    train_shingles relation that covers MORE docs than the intended train
    set is fine when the caller intersects the output with that set
    afterwards (curate_pipeline_fuzzy does: a full-corpus probe against
    the broadcast eval index costs only map-side hash lookups — strictly
    cheaper at 100 TB than shuffling the shingle relation to pre-restrict
    it to survivors)."""
    t = (
        train_shingles
        if train_shingles is not None
        else word_shingles(train, text_col, id_col, k)
    ).withColumnRenamed(id_col, "train_id")
    e = (
        eval_shingles
        if eval_shingles is not None
        else word_shingles(eval_docs, text_col, id_col, k)
    ).withColumnRenamed(id_col, "eval_id")
    return (
        t.join(F.broadcast(e), "shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Broder CONTAINMENT for all pairs where either direction clears
    ``threshold``: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| — the asymmetric
    companion to Jaccard that catches a document EMBEDDED in a larger one
    (quotes, page-in-crawl, prepended boilerplate), which symmetric
    Jaccard misses whenever the container is much bigger than the
    contained. Same inverted-index dataflow and ``max_df`` valve as
    ``ngram_jaccard_pairs`` (a shingle in d docs contributes d² join
    rows; dropping df>max_df shingles bounds the blowup at corpus scale,
    COVERAGE.md knob table); the only change is the two per-direction
    ratios replacing the one symmetric one."""
    # Same one-pass materialization as ngram_jaccard_pairs — and the same
    # round-17 long-keyed join: everything below depends only on shingle
    # identity, so the join/valve/sizes run over xxhash64 longs (see the
    # collision-bound note in ngram_jaccard_pairs).
    key = F.xxhash64("shingle") if _HASH_JOIN_KEY else F.col("shingle")
    sh = mat(
        word_shingles(docs, text_col, id_col, k=shingle_k).select(
            F.col(id_col), key.alias("__sh64")
        ),
        "containment_shingles",
    )
    if max_df is not None:
        rare = (
            sh.groupBy("__sh64")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("__sh64")
        )
        sh = mat(sh.join(rare, "__sh64", "left_semi"), "containment_valved")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "__sh64")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("containment_a", F.round(F.col("n_inter") / F.col("n_a"), 4))
        .withColumn("containment_b", F.round(F.col("n_inter") / F.col("n_b"), 4))
        .filter(
            (F.col("containment_a") >= threshold) | (F.col("containment_b") >= threshold)
        )
        .select("id_a", "id_b", "n_inter", "containment_a", "containment_b")
    )


def minhash_estimate_vs_true(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.05,
    max_df: int | None = None,
) -> DataFrame:
    """Sketch-quality audit: for every (valved) true-Jaccard pair >=
    ``threshold``, the MinHash ESTIMATE (fraction of equal signature
    components — the unbiased estimator banding implicitly thresholds),
    the exact Jaccard, the absolute error, and whether LSH banding
    (band_size=2 over the same signatures) would have surfaced the pair.
    This is the measure-don't-guess row for the whole MinHash stack: it
    quantifies, on the live corpus, how tight the 8-permutation sketch is
    and what the banding recall actually is at the operating threshold.

    Physical shape: ONE shingle pass feeds both sides (signatures are an
    aggregation of the same exploded relation the Jaccard join uses); the
    pair relation is the valved inverted-index join (max_df bounds every
    shingle to max_df^2 rows); signatures join onto the (small) pair
    relation by id twice; the banding flag is a per-row expression over
    the two signatures — no extra shuffle anywhere."""
    sh = word_shingles(docs, text_col, id_col, k=shingle_k)
    sh = sh.localCheckpoint(eager=True)
    pairs = ngram_jaccard_pairs(
        docs, text_col, id_col, shingle_k=shingle_k,
        threshold=threshold, max_df=max_df, shingles=sh,
    )
    sigs = minhash_signatures(docs, text_col, id_col,
                              num_hashes=num_hashes, shingle_k=shingle_k,
                              shingles=sh)
    sa = sigs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(num_hashes)],
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    eq = [
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    ]
    n_eq = eq[0]
    for e in eq[1:]:
        n_eq = n_eq + e
    # band_size=2 banding surfaces the pair iff some band has BOTH rows
    # equal — mirror of band_buckets' (mh0:mh1)(mh2:mh3)... layout
    band_hit = F.lit(False)
    for b in range(0, num_hashes, 2):
        hit = (F.col(f"a{b}") == F.col(f"b{b}"))
        if b + 1 < num_hashes:
            hit = hit & (F.col(f"a{b+1}") == F.col(f"b{b+1}"))
        band_hit = band_hit | hit
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            F.round(n_eq / F.lit(float(num_hashes)), 4).alias("minhash_est"),
            F.round(F.abs(n_eq / F.lit(float(num_hashes)) - F.col("jaccard")), 4).alias("abs_err"),
            band_hit.alias("lsh_found"),
        )
    )


def paragraph_dedup(
    docs: DataFrame,
    para_words: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph-level exact deduplication with document rewrite — the
    Dolma / CCNet recipe one granularity below document dedup: a
    boilerplate paragraph (nav bars, license blocks, cookie banners)
    repeats across MILLIONS of pages that are not document-level
    duplicates, so production pipelines hash paragraphs, keep each
    distinct paragraph's FIRST occurrence (min (doc, position) order),
    and rewrite every document to its surviving paragraphs.

    The synthetic corpus has no newline structure, so the paragraph
    boundary is parameterized as fixed ``para_words``-token windows (on a
    real corpus the splitter is ``\\n\\n`` — same dataflow from the
    explode on). Output per doc: paragraph counts before/after, the
    rewritten text, and its token count; a fully-duplicated document
    survives as an empty string (the downstream length filter's job, not
    this operator's).

    Scale: one corpus tokenization, one shuffle keyed by PARAGRAPH HASH
    (the first-occurrence window — perfectly balanced unless one
    paragraph dominates the corpus, which is exactly the boilerplate
    case AQE's skew handling absorbs), one shuffle back on doc id to
    reassemble. Never a pairwise join; cost is linear in corpus tokens.
    Reassembly sorts WITHIN one document's paragraphs (array_sort over
    collected structs — collect_list order is otherwise undefined), never
    globally.
    """
    tok = (
        docs.select(
            F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "w")
        )
        .filter(F.col("w") != "")
        .withColumn("para_idx", (F.col("pos") / para_words).cast("int"))
    )
    para = tok.groupBy(id_col, "para_idx").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
        ).alias("ptext")
    )
    first = Window.partitionBy(F.md5(F.col("ptext"))).orderBy(
        id_col, "para_idx"
    )
    flagged = para.withColumn("_rn", F.row_number().over(first))
    kept = flagged.filter(F.col("_rn") == 1)
    totals = para.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_paras")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("para_idx", "ptext"))),
                lambda s: s["ptext"],
            ),
        ).alias("new_text"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            "n_paras",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
            (F.col("n_paras") - F.coalesce(F.col("n_kept"), F.lit(0))).cast(
                "long"
            ).alias("n_removed"),
            F.coalesce(F.col("new_text"), F.lit("")).alias("new_text"),
            F.when(
                F.coalesce(F.col("new_text"), F.lit("")) == "", F.lit(0)
            )
            .otherwise(F.size(F.split(F.coalesce(F.col("new_text"), F.lit("")), " ")))
            .cast("long")
            .alias("new_n_tokens"),
        )
    )
