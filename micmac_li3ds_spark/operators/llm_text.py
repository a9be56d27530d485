"""M5 LLM-data-pipeline text operators (SURVEY.md §2.11): dedup family,
tokenization/TF, text statistics, quality scoring, language heuristic,
fingerprinting.

Scale design (the whole point of these operators):
- Exact dedup: hash-groupBy on a content fingerprint — one shuffle on
  the hash, no pairwise anything.
- Near-dedup: MinHash signatures → LSH band buckets → candidate pairs →
  exact-Jaccard verification. Cost is O(docs × shingles) + O(candidate
  pairs); there is NO all-pairs cross join anywhere. At 100 TB the band
  groupBy is the only wide shuffle and it partitions by band key.
- The inverted-index variant (q_llm_ngram_jaccard) is the exact
  counterpart: explode shingles → self-join the posting lists → verify.
  Hot shingles are the skew risk; mitigated by dropping shingles with
  document frequency above a cap (stopword-shingle pruning) before the
  posting-list self-join — implemented, default df_cap=256.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from micmac_li3ds_spark.functions.text import (
    DUCK_SHINGLES_CTE,
    MERSENNE31,
    duck_token_hash32,
    jaccard,
    minhash32,
    shingles,
    token_hash32,
    tokens,
)
from micmac_li3ds_spark.registry import register
from micmac_li3ds_spark.session import shuffle_partitions
from micmac_li3ds_spark.tables import load

# Caches that must outlive their query function (the returned DataFrame
# references them lazily; the caller collects after return, so the
# function can't unpersist its own cache). Scoped per registered query
# via functions/cache_scope.py (r18: the former module-local one-slot
# list could hold only ONE cache per query and broke when a registered
# query composed another registered one): the next top-level query
# unpersists them, so a long-lived session running many queries
# back-to-back (the driver, tools/check.py) carries at most one query's
# cached shingle sets instead of accumulating all of them in executor
# memory.
from micmac_li3ds_spark.functions.cache_scope import (  # noqa: E402
    scoped_cache as _scoped_cache,
)


def _spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Scan-parallelism guard for CPU-heavy MAP stages (r13, measured):
    the corpus parquet ships as ONE row group, so shingling-grade
    per-row expressions in a map-only plan run single-threaded no
    matter how many cores the session has (q_llm_repetition measured
    3.93 s → 1.44 s min-of-4 at sf0.1 from this guard alone). Unlike
    ngram_jaccard's keyed repartition — which a downstream join reuses
    — a map-only query has no key to shuffle on, so spread round-robin
    and ONLY when the scan actually yields fewer splits than the
    session's shuffle width: at 100 TB a properly-chunked lake takes
    the no-op branch and no shuffle is ever added; the monolithic-file
    case pays one tiny raw-text exchange to buy full-width compute."""
    sp = shuffle_partitions(spark)
    if df.rdd.getNumPartitions() < sp:
        return df.repartition(sp)
    return df


# ------------------------------------------------------------ exact dedup


def exact_fingerprint(col) -> F.Column:
    """The exact-dedup content fingerprint shared by q_llm_exact_dedup
    and the streaming twin (streaming/jobs.py:run_streaming_exact_dedup)
    — normalize (lower, trim, collapse runs of spaces) then sha256, so
    byte-insignificant formatting differences collapse while any real
    content change survives. Factored (round 15) so streaming ≡ batch
    is shared code, not a re-derivation."""
    return F.sha2(F.lower(F.trim(F.regexp_replace(col, " +", " "))), 256)


@register(
    "q_llm_exact_dedup",
    oracle="""
WITH batches AS (
  SELECT doc_id, text, 1 AS batch FROM documents
  UNION ALL
  SELECT doc_id, text, 2 AS batch FROM documents
),
hashed AS (
  SELECT doc_id, batch,
         sha256(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fp
  FROM batches
)
SELECT fp,
       min(doc_id) AS kept_doc_id,
       COUNT(*) AS n_copies
FROM hashed
GROUP BY fp
""",
    tags=("llm", "dedup"),
)
def q_llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a simulated double-import (the corpus has no
    byte-identical duplicates, so the query unions the table with itself
    — the reference's re-run-the-import scenario). Normalize (lower,
    trim, collapse whitespace) → sha256 → keep min doc_id per
    fingerprint. Every fingerprint must show n_copies == 2."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    batches = d.withColumn("batch", F.lit(1)).unionByName(
        d.withColumn("batch", F.lit(2))
    )
    fp = exact_fingerprint("text")
    return (
        batches.withColumn("fp", fp)
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("kept_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ------------------------------------------------------- near-dedup (LSH)

_NEAR_DEDUP_ORACLE = f"""
WITH {DUCK_SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         round(CAST(length(list_intersect(a.s, b.s)) AS DOUBLE)
               / length(list_distinct(list_concat(a.s, b.s))), 6) AS jac
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, jac FROM pairs WHERE jac >= 0.5
"""

# 32 bands × 2 rows: P(miss | jac=0.8) = (1-0.64)^32 ≈ 5e-15, and even a
# borderline jac=0.5 pair is caught with P 1-(1-0.25)^32 ≈ 0.9999. Halved
# from 128 perms after measuring the signature stage at ~40% of query
# wall — the extra recall margin bought nothing on a corpus whose
# planted duplicates are all ≥ 0.8 with background < 0.1.
_N_PERM = 64
_BAND_ROWS = 2


# Skew guard of every in-array candidate expansion (LSH band buckets,
# SemDeDup clusters and both streaming twins): a bucket of k ids expands
# to k²/2 pairs, so buckets with more than BUCKET_CAP ids are dropped.
BUCKET_CAP = 4096


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, sh): the distinct 3-token shingles of every document of
    at least 3 tokens, the input of every near-duplicate query and of
    the LSH streaming twin. The token-count guard goes before the
    shingle projection: a filter placed after it is pushed into the
    scan with the whole shingle expression inlined, computing every
    shingle twice. Documents below 3 tokens have no shingle, so the
    guard drops no pair. Keeps the input's partitioning: the stream
    writes its micro-batch's shingle sets as state, one file per input
    partition."""
    return docs.filter(F.size(tokens("text")) >= 3).select(
        "doc_id", shingles(tokens("text")).alias("sh")
    )


def _cached_shingle_sets(docs: DataFrame) -> DataFrame:
    """The batch queries' shingle sets: spread by doc_id over the
    session's cores, then scope-cached (every batch query reads them
    from two or more branches).

    Shingling is CPU-heavy map work and the corpus parquet ships as one
    row group, so the raw text is spread first: a small row shuffle
    buys full-width compute. Spreading over the shuffle partitions
    instead (8 on a 4-core session) was slower on all four queries
    measured, interleaved min-of-4 at sf0.1: near_dedup 3.47 vs
    3.34 s, containment 2.98 vs 2.95 s, cross_dedup 3.43 vs 3.20 s,
    decontaminate 1.89 vs 1.66 s, with the same shuffle stages in every
    final plan. Where the session has 8 or more cores the two counts
    coincide."""
    cores = docs.sparkSession.sparkContext.defaultParallelism
    return _scoped_cache(shingle_sets(docs.repartition(cores, "doc_id")))


def minhash_band_keys(d: DataFrame) -> DataFrame:
    """(doc_id, band_key) LSH band assignment for a (doc_id, sh) input
    of non-empty shingle sets: one fold over the shingles' base hashes
    keeps _N_PERM running permuted minima, then one band key is emitted
    per _BAND_ROWS-row band. Pure per-row array algebra, no
    explode/join/shuffle until the caller groups by band_key.

    The base hashes are the fold's input array, so each shingle is
    hashed once. A per-permutation ``transform(sequence(0, 63), i ->
    array_min(transform(hs, perm_i)))`` over a projected ``hs`` column
    does not do that: CollapseProject inlines the hashing, and on an
    uncached input the shingling too, into the per-permutation lambda,
    64 times per row. Noop sink, local[4]: sf0.01's 500 uncached docs
    8.1 s against 0.9 s for the fold; sf0.1's 5,000 cached shingle sets
    1.56-1.65 s against 1.04-1.29 s; band keys bit-identical."""
    sig = F.aggregate(
        F.transform("sh", minhash32),
        F.array_repeat(F.lit(MERSENNE31).cast("long"), _N_PERM),
        lambda mins, h: F.transform(
            mins,
            lambda m, i: F.least(
                m, F.pmod(h * (2 * i + 1) + (i + 12345), F.lit(MERSENNE31))
            ),
        ),
    )
    n_bands = _N_PERM // _BAND_ROWS
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.concat_ws(
            ":",
            b,
            *[
                F.element_at(F.col("sig"), b * _BAND_ROWS + r + 1)
                for r in range(_BAND_ROWS)
            ],
        ),
    )
    return d.select("doc_id", sig.alias("sig")).select(
        "doc_id", F.explode(band_keys).alias("band_key")
    )


def lsh_candidate_pairs(banded: DataFrame, bucket_cap: int) -> DataFrame:
    """Distinct (doc_a, doc_b) candidate pairs from a (doc_id,
    band_key) assignment: one groupBy(band_key), pairs expanded INSIDE
    the sorted bucket array (flatten/transform/slice, linear under
    CollapseProject), buckets over ``bucket_cap`` dropped (the skew
    guard of BUCKET_CAP). Every LSH query, the SemDeDup clusters and
    both streaming twins expand their candidates here, so the candidate
    generation the q_llm_lsh_recall gauge measures IS the one dedup
    ships."""
    ids = F.array_sort(F.collect_set("doc_id")).alias("ids")
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        banded.groupBy("band_key")
        .agg(ids)
        .filter((F.size("ids") > 1) & (F.size("ids") <= bucket_cap))
        .select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


def verify_pairs(
    pairs: DataFrame, vals: DataFrame, threshold: float, **scores
) -> DataFrame:
    """Exact verification of candidate (doc_a, doc_b) pairs: attach
    both sides' values from the two-column (id, value) frame ``vals``,
    compute each ``name=score(a, b)`` rounded to 6 dp, and keep the
    pairs whose FIRST score is at or above ``threshold``. Every batch
    near-duplicate query and both streaming twins verify here, so
    streaming ≡ batch is shared code."""
    id_col, val_col = vals.columns
    va = vals.select(F.col(id_col).alias("doc_a"), F.col(val_col).alias("_a"))
    vb = vals.select(F.col(id_col).alias("doc_b"), F.col(val_col).alias("_b"))
    scored = [
        F.round(score(F.col("_a"), F.col("_b")), 6).alias(name)
        for name, score in scores.items()
    ]
    return (
        pairs.join(va, "doc_a")
        .join(vb, "doc_b")
        .select("doc_a", "doc_b", *scored)
        .filter(F.col(next(iter(scores))) >= threshold)
    )


@register("q_llm_near_dedup", oracle=_NEAR_DEDUP_ORACLE, tags=("llm", "dedup", "lsh"))
def q_llm_near_dedup(
    spark: SparkSession, sf_dir: str, bucket_cap: int = BUCKET_CAP
) -> DataFrame:
    """MinHash + LSH near-duplicate detection, verified.

    Pipeline: 3-token shingles → 64 minhash permutations → 32 two-row
    LSH bands → bucket groupBy for candidate pairs → exact Jaccard
    verification ≥ 0.5.

    Signatures are pure per-row array algebra (``minhash_band_keys``:
    one fold over each shingle's base hash) — NO explode, NO join, zero
    shuffle until the band groupBy. (A vectorized pandas-UDF variant of the
    signature stage was measured and LOST to this: the numpy kernel
    itself is fast but Arrow exchange + python-worker stage overhead
    exceeded the whole JVM-side compute at every scale tried.)

    No all-pairs join anywhere: candidates come from expanding pairs
    inside each band bucket — the only wide ops are one
    groupBy(band_key), one distinct, and the tiny verification joins.
    This is the shape that survives a 100-TB corpus.

    The oracle brute-forces all pairs; the LSH path must find every
    qualifying pair (miss probability ~5e-15 per pair at jac 0.8 — the
    corpus' planted duplicates are all ≥ 0.8 with background < 0.1).
    """
    # Candidates: group each band bucket and expand pairs INSIDE the
    # bucket array, one shuffle in total. A band self-join would read
    # (and recompute) the signature chain twice and shuffle both sides.
    # Skew guard for 100 TB: a boilerplate bucket (one shared header
    # minhashed identically by 10⁶ docs → 5·10¹¹ pairs) would dominate
    # the whole job, so buckets over ``bucket_cap`` are dropped,
    # mirroring q_llm_ngram_jaccard's df_cap. A pair is lost only if
    # EVERY band it agrees on is over-cap, i.e. both docs are
    # near-entirely boilerplate, which dedup pipelines drop anyway.
    # Oracle parity is safe because no bucket in this corpus approaches
    # the cap (asserted by test_corpus_band_buckets_far_below_cap).
    d = _cached_shingle_sets(load(spark, sf_dir, "documents"))
    candidates = lsh_candidate_pairs(minhash_band_keys(d), bucket_cap)
    return verify_pairs(candidates, d, 0.5, jac=jaccard)


@register(
    "q_llm_lsh_recall",
    oracle=f"""
WITH {DUCK_SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         round(CAST(length(list_intersect(a.s, b.s)) AS DOUBLE)
               / length(list_distinct(list_concat(a.s, b.s))), 6) AS jac
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
),
truth AS (SELECT doc_a, doc_b FROM pairs WHERE jac >= 0.5)
SELECT CAST(n AS BIGINT) AS n_true,
       CAST(n AS BIGINT) AS n_found,
       round(1.0, 6) AS recall
FROM (SELECT COUNT(*) AS n FROM truth)
""",
    tags=("llm", "dedup", "lsh", "quality"),
)
def q_llm_lsh_recall(
    spark: SparkSession,
    sf_dir: str,
    df_cap: int = 256,
    sample_frac: float = 1.0,
) -> DataFrame:
    """MinHash-LSH candidate recall against exact Jaccard — the dedup
    twin of q_llm_knn_recall (ANN recall@10): the measurement that
    turns a banding-parameter regression into a HASH RED instead of a
    quiet dedup-quality loss.

    Truth side: the exact jac ≥ 0.5 pair set, generated INDEPENDENTLY
    of minhash via the inverted-index path (rare-shingle posting
    lists, df_cap — the q_llm_ngram_jaccard machinery, itself
    hash-verified against the brute-force oracle). Found side: the
    SHARED lsh_candidate_pairs generation that q_llm_near_dedup ships
    — bands/permutations/bucket_cap included — intersected with truth.

    The oracle brute-forces the true pair set and pins n_found == n_true
    (recall 1.0): at 32 bands × 2 rows the per-pair miss probability on
    this corpus' planted duplicates (all jac ≥ 0.8) is ~5e-15, so full
    recall is the CONTRACT, not luck. Cut the bands to 4, break a
    permutation constant, or over-tighten bucket_cap and missed true
    pairs drop n_found below n_true — a value mismatch the driver
    flags. Cost: one LSH candidate pass + one posting-list pass over
    the same cached shingle sets — both 100-TB shapes already argued
    for their parent queries.

    Production posture: ``sample_frac`` scopes the whole audit to a
    deterministic doc_id-hash sample —
    ``pmod(xxhash64(doc_id), 1e6) < frac·1e6`` — so at 100 TB the
    gauge audits a reproducible slice of the corpus (both truth and
    found sides see the SAME docs; recall over the slice estimates
    corpus recall) instead of brute-forcing every pair. The default
    1.0 skips the filter entirely. Out-of-range fractions and fractions
    below the 1e-6 quantization floor raise ValueError (a zero-doc
    slice would be silently vacuous); a small VALID slice that happens
    to contain no true pair emits n_true = 0 with recall NULL — a
    monitor must treat that as "slice too small, raise sample_frac",
    never as a pass. ``df_cap``
    bounds the truth side's posting lists; a doc whose shingles ALL
    exceed it vanishes from n_true and n_found alike, silently
    inflating recall — ``lsh_recall_dfcapped_docs`` reports exactly
    those docs (the copurchase_dropped_groups no-silent-caps
    pattern)."""
    _validate_sample_frac(sample_frac)
    d = _cached_shingle_sets(
        _sample_docs(load(spark, sf_dir, "documents"), sample_frac)
    )

    # truth: exact jac >= 0.5 via rare-shingle posting lists (no
    # minhash anywhere in this branch). Candidate generation stays the
    # POSTING SELF-JOIN deliberately: reusing lsh_candidate_pairs with
    # the shingle as bucket key was MEASURED SLOWER (warm sf0.1 wall
    # 8.7 s vs 4.0 s) — the shingle index is millions of df ≤ 3 groups,
    # where per-row array_sort/slice/transform overhead swamps the saved
    # shuffle; the in-array expansion wins only for few-large-bucket
    # shapes (LSH bands, clusters, co-purchase groups). Same candidates
    # either way; shape chosen by measurement. The truth set has a
    # single consumer, one aggregation over a left-join membership flag:
    # lsh_candidate_pairs ends in .distinct(), so the left join cannot
    # duplicate truth rows, and n_true = 0 still yields a NULL recall
    # (3.13 s against 3.38 s for two count jobs plus a crossJoin of
    # their 1-row results, interleaved min-of-4 at sf0.1).
    truth = posting_jaccard_pairs(d, df_cap, 0.5).select("doc_a", "doc_b")

    # found: the shipped LSH candidate generation, no Jaccard verify —
    # recall of the CANDIDATE stage is what banding parameters control
    lsh_cand = lsh_candidate_pairs(minhash_band_keys(d), BUCKET_CAP)
    flagged = truth.join(
        lsh_cand.withColumn("_found", F.lit(True)),
        ["doc_a", "doc_b"],
        "left",
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.count("_found").alias("n_found"),
    ).select(
        "n_true",
        "n_found",
        F.round(F.col("n_found") / F.col("n_true"), 6).alias("recall"),
    )


def _validate_sample_frac(sample_frac: float) -> None:
    """Guard the gauge's sampling knob (the heavy-hitters invariant-
    guard discipline): out-of-range fractions, and fractions below the
    1e-6 pmod quantization floor — where ``int(frac·1e6) == 0`` selects
    NO docs and the audit is silently vacuous (n_true = 0, recall
    NULL) — must refuse loudly instead of green-lighting nothing."""
    if not 0.0 < sample_frac <= 1.0:
        raise ValueError(
            f"sample_frac={sample_frac} must be in (0, 1]"
        )
    if sample_frac < 1.0 and int(sample_frac * 1_000_000) == 0:
        raise ValueError(
            f"sample_frac={sample_frac} is below the 1e-6 hash-sample "
            "quantization floor — the pmod slice would select zero docs "
            "and the recall audit would be vacuous"
        )


def _sample_docs(docs: DataFrame, sample_frac: float) -> DataFrame:
    """The gauge's deterministic doc_id-hash slice, shared with its
    observability reporter so both always audit the SAME population."""
    if sample_frac >= 1.0:
        return docs
    return docs.filter(
        F.pmod(F.xxhash64("doc_id"), F.lit(1_000_000))
        < int(sample_frac * 1_000_000)
    )


def lsh_recall_dfcapped_docs(
    spark: SparkSession,
    sf_dir: str,
    df_cap: int = 256,
    sample_frac: float = 1.0,
) -> DataFrame:
    """The observability half of q_llm_lsh_recall's ``df_cap`` (the
    copurchase_dropped_groups no-silent-caps pattern):
    (doc_id, n_shingles) for every document whose shingles ALL exceed
    the posting-list cap. Such a doc cannot appear in any truth pair —
    it is removed from n_true and n_found alike, so the recall gauge is
    blind to it; at production scale run this alongside the gauge and
    alert when it returns rows. Pass the gauge's ``sample_frac`` so the
    reporter audits the SAME sampled population (same _sample_docs
    slice, so df is computed over the slice the gauge actually sees —
    a full-corpus reporter next to a sampled gauge would page on docs
    the gauge never audited). At fixture scale it returns zero rows
    (every doc has at least one rare shingle — asserted by
    tests/test_round10_ops.py, which also plants an all-boilerplate
    corpus where the reporter fires)."""
    _validate_sample_frac(sample_frac)
    d = _cached_shingle_sets(
        _sample_docs(load(spark, sf_dir, "documents"), sample_frac)
    )
    post = d.select("doc_id", F.explode("sh").alias("s"))
    rare = (
        post.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("s")
    )
    surviving = post.join(rare, "s").select("doc_id").distinct()
    return (
        d.select("doc_id", F.size("sh").alias("n_shingles"))
        .join(surviving, "doc_id", "left_anti")
    )


@register(
    "q_llm_ngram_jaccard",
    oracle=_NEAR_DEDUP_ORACLE.replace("jac >= 0.5", "jac >= 0.6"),
    tags=("llm", "dedup"),
)
def q_llm_ngram_jaccard(
    spark: SparkSession, sf_dir: str, df_cap: int = 256
) -> DataFrame:
    """Exact n-gram-Jaccard duplicate pairs via an inverted index:
    explode shingles → drop shingles with document frequency above
    ``df_cap`` (boilerplate/stopword shingles) → self-join the surviving
    posting lists (pairs sharing ≥1 rare-enough shingle) → exact Jaccard
    ≥ 0.6 on the FULL shingle sets.

    The DF cap is what makes this survive 100 TB: a shingle in d docs
    yields d² candidate rows, so one boilerplate header shared by 10⁶
    docs would be 10¹² candidates; capping bounds every posting list's
    contribution at df_cap² (property-tested with a planted hot
    shingle). Completeness: a pair is missed only if EVERY shared
    shingle exceeds the cap — at jac ≥ 0.6 that means both docs are
    near-entirely boilerplate, exactly the pairs near-dedup pipelines
    drop anyway (and on this corpus the oracle confirms zero loss). The
    DF pass pre-aggregates on the same key as the posting join, so it
    rides the identical shuffle partitioning.

    The shingle sets are read by the posting branch and both verify
    branches, so they are scope-cached: recomputed per consumer on the
    one-row-group corpus they cost ~35 s at sf0.1."""
    d = _cached_shingle_sets(load(spark, sf_dir, "documents"))
    return posting_jaccard_pairs(d, df_cap, 0.6)


def posting_jaccard_pairs(
    d: DataFrame, df_cap: int, threshold: float
) -> DataFrame:
    """Exact-Jaccard pairs (doc_a, doc_b, jac ≥ threshold) over a cached
    (doc_id, sh) frame via the inverted-index path — shared by
    q_llm_ngram_jaccard and q_llm_lsh_recall's truth side.

    Verify by counts, not arrays ("shuffle keys and metadata instead of
    payloads"): attaching both shingle arrays to each of the 1.13 M
    candidate pairs at sf0.1 and running array_intersect/array_union
    per pair took 9.7 s of a 12 s query. The self-join instead counts
    each pair's SHARED RARE shingles (``c``) in the shuffle it pays
    anyway, and ``n_sh`` (the doc's shingle count, computed before the
    explode) rides every posting row into the pair's grouping key.
    Both docs' posting rows use the same global rare set, so
    |A∩B| = c + |A∩B∩hot|, and |A∩B∩hot| = 0 as soon as EITHER doc
    has no over-cap shingle: then jac = c/(n_a + n_b − c), the same
    integers and the same IEEE divide as the array result, bit for
    bit. Only pairs where BOTH docs carry over-cap shingles go to the
    array verify (``verify_pairs``); on a dedup-worthy corpus that is a
    sliver of boilerplate-heavy docs, and the candidate SET is
    unchanged: a pair surfaces iff it shares ≥ 1 rare shingle.

    ``hot_docs`` (the distinct docs of the over-cap posting rows) is
    attached by two left joins that AQE broadcasts when small. The
    flagged pairs frame (5 ints + 2 booleans per row) is scope-cached
    so both branches read one materialisation: without it each branch
    re-derives the self-join, groupBy and stats pipeline (stage-timed
    at sf0.1, caches pre-built: self-join 0.66 s, +groupBy 0.99 s,
    +two stats joins 1.75 s, full two-branch union 5.19 s). Verified
    against the brute-force DuckDB oracle at sf0.001/sf0.01/sf0.1.
    """
    post = d.select(
        "doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("s")
    )
    dfreq = post.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    # One df-join attaches the shingle frequency to every posting row;
    # the rare slice feeds the self-join twice and the hot slice feeds
    # the hot-doc set, so the joined frame is materialized once.
    post_all = _scoped_cache(post.join(dfreq, "s"))
    post_r = post_all.filter(F.col("df") <= df_cap).select(
        "doc_id", "n_sh", "s"
    )
    hot_docs = (
        post_all.filter(F.col("df") > df_cap).select("doc_id").distinct()
    )
    a = post_r.alias("a")
    b = post_r.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs_h = _scoped_cache(
        pairs.join(
            hot_docs.select(
                F.col("doc_id").alias("doc_a"), F.lit(True).alias("_hot_a")
            ),
            "doc_a",
            "left",
        ).join(
            hot_docs.select(
                F.col("doc_id").alias("doc_b"), F.lit(True).alias("_hot_b")
            ),
            "doc_b",
            "left",
        )
    )
    count_jac = F.col("c") / (F.col("n_a") + F.col("n_b") - F.col("c"))
    exact_by_count = pairs_h.filter(
        F.col("_hot_a").isNull() | F.col("_hot_b").isNull()
    ).select("doc_a", "doc_b", F.round(count_jac, 6).alias("jac"))
    both_hot = pairs_h.filter(
        F.col("_hot_a").isNotNull() & F.col("_hot_b").isNotNull()
    )
    return exact_by_count.filter(F.col("jac") >= threshold).unionByName(
        verify_pairs(both_hot.select("doc_a", "doc_b"), d, threshold, jac=jaccard)
    )


# ----------------------------------------------------------------- simhash

_SIMHASH_BITS = 32


@register(
    "q_llm_simhash",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
hashed AS (
  SELECT doc_id, {duck_token_hash32('t')} AS h FROM tok
),
bits AS (
  SELECT doc_id,
         SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS bal, b.b
  FROM hashed, (SELECT unnest(range(0, {_SIMHASH_BITS})) AS b) b
  GROUP BY doc_id, b.b
)
SELECT doc_id,
       CAST(SUM(CASE WHEN bal > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
         AS simhash
FROM bits
GROUP BY doc_id
""",
    tags=("llm", "dedup", "simhash"),
)
def q_llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash document fingerprint from md5-derived token hashes
    (hash identical in both engines, so the oracle recomputes the exact
    fingerprint). One explode + one groupBy with 32 balance aggregates —
    map-side combinable, linear in corpus size. Deliberately NOT
    _spread: measured 1.11 s → 1.24 s at sf0.1/32 threads — the
    groupBy's own exchange already parallelizes everything past the
    scan, so the extra map-side exchange costs more than it buys."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("t")).withColumn(
        "h", token_hash32(F.col("t"))
    )
    bal = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
        ).alias(f"bal{b}")
        for b in range(_SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(*bal)
    sim = None
    for b in range(_SIMHASH_BITS):
        term = F.when(F.col(f"bal{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


# ------------------------------------------------------------- tokenize/TF


@register(
    "q_llm_tokenize_tf",
    oracle="""
WITH tok AS (
  SELECT lang, unnest(string_split(lower(text), ' ')) AS term FROM documents
),
tf AS (
  SELECT lang, term, COUNT(*) AS freq
  FROM tok GROUP BY lang, term
),
ranked AS (
  SELECT lang, term, freq,
         row_number() OVER (PARTITION BY lang ORDER BY freq DESC, term) AS rn
  FROM tf
)
SELECT lang, term, freq, rn FROM ranked WHERE rn <= 5
""",
    tags=("llm", "text"),
)
def q_llm_tokenize_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize → term frequency → top-5 terms per language. The
    explode+groupBy is the scalable TF shape (no collect of vocabulary);
    ties broken by term for determinism."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("lang", F.explode(tokens(F.lower(F.col("text")))).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("freq").desc(), F.col("term"))
    return tf.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)


@register(
    "q_llm_text_stats",
    oracle="""
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       round(SUM(n_chars) / COUNT(*), 6) AS avg_chars,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       COUNT(*) FILTER (WHERE contains(text, 'join')) AS n_mention_join
FROM documents
GROUP BY lang, source
""",
    tags=("llm", "text"),
)
def q_llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) document statistics: counts, length
    distribution, term-presence flags."""
    d = load(spark, sf_dir, "documents")
    n = F.count(F.lit(1))
    return d.groupBy("lang", "source").agg(
        n.alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.sum("n_chars") / n, 6).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.count(F.when(F.contains(F.col("text"), F.lit("join")), 1)).alias(
            "n_mention_join"
        ),
    )


# --------------------------------------------------------- quality scoring

_STOPWORDS = ("join", "filter", "table", "row", "value")
_DUCK_STOP = "['join', 'filter', 'table', 'row', 'value']"


@register(
    "q_llm_quality_score",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks FROM documents
),
m AS (
  SELECT doc_id, lang, n_chars,
         CAST(length(toks) AS INTEGER) AS n_tokens,
         CAST(length(list_distinct(toks)) AS INTEGER) AS n_distinct,
         CAST(length(list_filter(toks, x -> list_contains({_DUCK_STOP}, x)))
              AS INTEGER) AS n_stop
  FROM t
)
SELECT doc_id, lang, n_tokens,
       round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS uniq_ratio,
       round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
       round(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS avg_token_len,
       round(0.4 * (CAST(n_distinct AS DOUBLE) / n_tokens)
           + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
           + 0.3 * least(n_tokens / 100.0, 1.0), 6) AS quality
FROM m
""",
    tags=("llm", "text"),
)
def q_llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality score: token count, uniqueness ratio,
    stopword ratio, length saturation — the standard pre-training filter
    features, composed into one weighted score. Pure column algebra."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tok = F.size(toks)
    n_dist = F.size(F.array_distinct(toks))
    n_stop = F.size(
        F.filter(toks, lambda x: x.isin(*_STOPWORDS))
    )
    uniq = n_dist.cast("double") / n_tok
    stop = n_stop.cast("double") / n_tok
    return d.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tokens"),
        F.round(uniq, 6).alias("uniq_ratio"),
        F.round(stop, 6).alias("stop_ratio"),
        F.round(F.col("n_chars").cast("double") / n_tok, 6).alias("avg_token_len"),
        F.round(
            0.4 * uniq + 0.3 * (1.0 - stop) + 0.3 * F.least(n_tok / 100.0, F.lit(1.0)),
            6,
        ).alias("quality"),
    )


@register(
    "q_llm_token_count",
    oracle="""
SELECT doc_id,
       CAST(length(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
       CAST(length(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
            AS INTEGER) AS n_bpe_pieces,
       CAST(n_chars AS BIGINT) AS n_chars_out
FROM documents
""",
    tags=("llm", "text"),
)
def q_llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-style
    pre-tokenizer regex (letter runs / digit runs / single symbols) —
    the cheap proxy for LLM token budgeting at ingest."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens("text")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)).alias(
            "n_bpe_pieces"
        ),
        F.col("n_chars").alias("n_chars_out"),
    )


@register(
    "q_llm_lang_id",
    oracle="""
SELECT doc_id, lang,
       CASE WHEN vr >= 0.42 THEN 'en'
            WHEN vr >= 0.40 THEN 'fr'
            WHEN vr >= 0.38 THEN 'es'
            WHEN vr >= 0.36 THEN 'de'
            ELSE 'zh' END AS predicted_lang,
       round(vr, 6) AS vowel_ratio
FROM (
  SELECT doc_id, lang,
         CAST(length(regexp_extract_all(text, '[aeiou]')) AS DOUBLE)
           / length(replace(text, ' ', '')) AS vr
  FROM documents
)
""",
    tags=("llm", "text"),
)
def q_llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID n-gram heuristic (character-class frequency →
    threshold rule). The corpus vocabulary is synthetic and shared
    across langs, so the rule is a deterministic stand-in for a real
    char-n-gram profile model — the Spark shape (regex feature
    extraction + CASE classifier, no UDF) is the deliverable."""
    d = load(spark, sf_dir, "documents")
    vr = F.size(F.regexp_extract_all("text", F.lit("[aeiou]"), 0)).cast(
        "double"
    ) / F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    return d.select(
        "doc_id",
        "lang",
        F.when(vr >= 0.42, "en")
        .when(vr >= 0.40, "fr")
        .when(vr >= 0.38, "es")
        .when(vr >= 0.36, "de")
        .otherwise("zh")
        .alias("predicted_lang"),
        F.round(vr, 6).alias("vowel_ratio"),
    )


@register(
    "q_llm_fingerprint",
    oracle="""
SELECT doc_id,
       list_reduce(
         list_concat([CAST(0 AS BIGINT)],
           list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
         (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
FROM documents
""",
    tags=("llm", "text"),
)
def q_llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial hash over the document's characters (base 31,
    mod 1e9+7) — an order-sensitive content fingerprint, computed with a
    higher-order fold in both engines (no UDF)."""
    d = load(spark, sf_dir, "documents")
    chars = F.split(F.col("text"), "")
    fp = F.aggregate(
        F.transform(chars, lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * 31 + x, F.lit(1000000007)),
    )
    return d.select("doc_id", fp.alias("fingerprint"))


# ------------------------------------------- repetition & contamination


@register(
    "q_llm_repetition",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
),
g AS (
  SELECT doc_id, lang,
         CAST(greatest(length(toks) - 2, 0) AS BIGINT) AS n_total,
         CAST(length(list_distinct(
           list_transform(range(1, greatest(length(toks) - 2, 0) + 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
           AS BIGINT) AS n_distinct
  FROM t
)
SELECT doc_id, lang, n_total, n_distinct,
       round(1.0 - CAST(n_distinct AS DOUBLE) / n_total, 6) AS rep_ratio
FROM g WHERE n_total > 0
""",
    tags=("llm", "text", "quality"),
)
def q_llm_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-3-gram repetition ratio per document — the Gopher-rules
    quality signal that catches boilerplate and degenerate repetition
    (high ratio = the same phrases loop). Pure per-row array algebra
    (total vs distinct shingle counts): map-only, scale-free; _spread
    buys scan parallelism on the monolithic fixture file (measured
    2.7× at sf0.1) and is a no-op on a properly-chunked lake."""
    d = _spread(load(spark, sf_dir, "documents"), spark)
    toks = tokens("text")
    n_total = F.greatest(F.size(toks) - 2, F.lit(0)).cast("long")
    n_distinct = F.size(shingles(toks)).cast("long")
    return (
        d.select(
            "doc_id",
            "lang",
            n_total.alias("n_total"),
            n_distinct.alias("n_distinct"),
        )
        .filter(F.col("n_total") > 0)
        .select(
            "doc_id",
            "lang",
            "n_total",
            "n_distinct",
            F.round(
                1.0 - F.col("n_distinct").cast("double") / F.col("n_total"), 6
            ).alias("rep_ratio"),
        )
    )


@register(
    "q_llm_decontaminate",
    oracle=f"""
WITH {DUCK_SHINGLES_CTE},
post AS (
  SELECT doc_id, CAST(length(s) AS BIGINT) AS n_shingles, unnest(s) AS g
  FROM sh WHERE length(s) > 0
),
bench AS (SELECT DISTINCT g FROM post WHERE doc_id % 50 = 0)
SELECT p.doc_id, p.n_shingles, count(*) AS n_overlap,
       round(CAST(count(*) AS DOUBLE) / p.n_shingles, 6) AS overlap_ratio
FROM post p JOIN bench b ON p.g = b.g
WHERE p.doc_id % 50 <> 0
GROUP BY p.doc_id, p.n_shingles
""",
    tags=("llm", "text", "dedup"),
)
def q_llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag training documents sharing 3-gram
    shingles with a benchmark set (here: every 50th doc stands in for
    the held-out benchmark). The benchmark's distinct shingles are a
    SMALL set by construction (evals are thousands of docs, not
    billions) → broadcast semi-join against the training corpus'
    exploded shingles: map-side hash probe, no corpus shuffle; the only
    exchange is the per-doc overlap count. This is the shape that scans
    100 TB of training text against a benchmark suite in one pass.

    The bench and train branches both read the shingle sets, so they
    are scope-cached: recomputed per branch on the one-row-group corpus
    they cost ~13 s at sf0.1 against ~4 s."""
    d = _cached_shingle_sets(load(spark, sf_dir, "documents"))
    post = d.select(
        "doc_id",
        F.size("sh").cast("long").alias("n_shingles"),
        F.explode("sh").alias("g"),
    )
    bench = (
        post.filter(F.col("doc_id") % 50 == 0).select("g").distinct()
    )
    return (
        post.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            F.round(
                F.col("n_overlap").cast("double") / F.col("n_shingles"), 6
            ).alias("overlap_ratio"),
        )
    )


# ------------------------------------------------------------ tf-idf

@register(
    "q_llm_tfidf",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
),
df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tf.term AS term, tf, df,
         round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf, rk
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rk
      FROM scored)
WHERE rk <= 5
""",
    tags=("llm", "text"),
)
def q_llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1))+1,
    the sklearn convention). Fully declarative: term frequencies and
    document frequencies are two aggregations over one explode, N is a
    one-row aggregate broadcast into the scoring join (never a
    driver-side .count()), and the per-document top-5 is a partitioned
    row_number — every shuffle is keyed (doc_id/term), nothing global.
    Ties broken by term so the cut is deterministic on both engines."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .join(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "term", "tf", "df", "tfidf", "rk")
    )


# ------------------------------------------------------------ PII scrub

_RE_EMAIL = "[a-z0-9._]+@[a-z0-9.-]+"
_RE_PHONE = r"\+1-555-[0-9]{4}"
_RE_URL = "[a-z]+://[a-z0-9./]+"


@register(
    "q_llm_pii_scrub",
    oracle=f"""
WITH contact AS (
  SELECT c_custkey,
         c_name || ' reachable at ' || lower(replace(c_name, '#', ''))
                || '@example.com or +1-555-'
                || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                || ' visit https://example.com/u/' || CAST(c_custkey AS VARCHAR)
           AS txt
  FROM customer
)
SELECT c_custkey,
       regexp_replace(regexp_replace(regexp_replace(txt,
         '{_RE_EMAIL}', '[EMAIL]', 'g'),
         '{_RE_PHONE}', '[PHONE]', 'g'),
         '{_RE_URL}', '[URL]', 'g') AS scrubbed,
       CAST(length(regexp_extract_all(txt, '{_RE_EMAIL}'))
          + length(regexp_extract_all(txt, '{_RE_PHONE}'))
          + length(regexp_extract_all(txt, '{_RE_URL}')) AS INTEGER) AS n_pii
FROM contact
""",
    tags=("llm", "text", "pii"),
)
def q_llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction for training corpora: mask emails / phone numbers /
    URLs with typed placeholders and count what was masked. The corpus
    documents carry no contact strings, so the input is synthesized
    deterministically from customer (both engines build the identical
    string, then both scrub it — the value check covers construction
    AND redaction). Map-only JVM regex — no UDF, linear at any scale;
    patterns are kept in the Java∩RE2 common dialect so both engines
    match identically."""
    c = load(spark, sf_dir, "customer")
    txt = F.concat(
        F.col("c_name"),
        F.lit(" reachable at "),
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit(""))),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" visit https://example.com/u/"),
        F.col("c_custkey").cast("string"),
    )
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(txt, _RE_EMAIL, "[EMAIL]"),
            _RE_PHONE,
            "[PHONE]",
        ),
        _RE_URL,
        "[URL]",
    )
    n_pii = (
        F.regexp_count(txt, F.lit(_RE_EMAIL))
        + F.regexp_count(txt, F.lit(_RE_PHONE))
        + F.regexp_count(txt, F.lit(_RE_URL))
    ).cast("int")
    return c.select(
        "c_custkey", scrub.alias("scrubbed"), n_pii.alias("n_pii")
    )


# ------------------------------------------------- dedup cluster assembly

# Shared recursive-fixpoint prefix: LSH-equivalent duplicate pairs →
# undirected edges → transitive reach → min-label component per doc.
_CLUSTERS_CTE = f"""WITH RECURSIVE {DUCK_SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(length(list_intersect(a.s, b.s)) AS DOUBLE)
        / length(list_distinct(list_concat(a.s, b.s))) >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT a AS doc, b AS peer FROM edges
  UNION
  SELECT r.doc, e.b FROM reach r JOIN edges e ON e.a = r.peer
),
lab AS (
  SELECT doc, LEAST(doc, MIN(peer)) AS cluster_id FROM reach GROUP BY doc
)"""

_CLUSTERS_ORACLE = f"""
{_CLUSTERS_CTE}
SELECT doc AS doc_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM lab
"""


@register("q_llm_dedup_clusters", oracle=_CLUSTERS_ORACLE, tags=("llm", "dedup"))
def q_llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assembly — the dedup endgame: pairwise
    near-duplicate edges (the LSH pipeline's output) collapsed into
    connected components, labeling every involved document with its
    cluster's minimum doc_id (the canonical keeper) and the cluster
    size.

    Spark has no fixpoint recursion with dedup (UNION-distinct inside
    WITH RECURSIVE is rejected; UNION ALL diverges on cyclic duplicate
    graphs), so components come from ``cc_fixpoint``: min-label
    propagation with pointer jumping, O(log d) rounds, each one keyed
    join + one groupBy shuffled on doc_id only. The driver reads one
    observed changed-label count per round, never row data. The DuckDB
    oracle reaches the same fixpoint via UNION-distinct recursion."""
    pairs = q_llm_near_dedup(spark, sf_dir)
    return dedup_clusters(pairs.select("doc_a", "doc_b"))


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, cluster_size) for every document in a
    (doc_a, doc_b) near-duplicate pair list: connected components
    labelled by their minimum doc_id."""
    from micmac_li3ds_spark.operators.analytics import cc_fixpoint

    lbl, _rounds = cc_fixpoint(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    )
    w = Window.partitionBy("cluster_id")
    return lbl.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    ).withColumn("cluster_size", F.count(F.lit(1)).over(w))


# ------------------------------------------------- n-gram LM quality score

_LM_ORACLE = """
WITH tok AS (
  SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents
),
big AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS bg
  FROM tok WHERE len(t) >= 2
),
model AS (
  SELECT lang, bg, COUNT(*) AS c FROM big GROUP BY lang, bg
),
tot AS (
  SELECT lang, SUM(c) AS n FROM model GROUP BY lang
)
SELECT b.doc_id,
       COUNT(*) AS n_bigrams,
       round(AVG(ln(m.c / (t.n * 1.0))), 6) AS avg_logp
FROM big b
JOIN model m ON m.lang = b.lang AND m.bg = b.bg
JOIN tot t ON t.lang = b.lang
GROUP BY b.doc_id
"""


@register("q_llm_lm_score", oracle=_LM_ORACLE, tags=("llm", "text", "quality"))
def q_llm_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical language-model quality score (perplexity proxy): train
    a per-language word-bigram model on the corpus in one aggregation,
    then score every document by its mean bigram log-probability —
    fluent text scores high, token soup scores low. This is the
    KenLM-filter shape of production pipelines, fully declarative: one
    explode, one model aggregation (map-side combinable), one keyed
    join back (same (lang, bigram) shuffle key as the model build —
    no broadcast needed even when the model outgrows memory), one
    per-document average. Counts are integers (exact), so both engines
    feed identical ratios to ln; the 6-dp round absorbs summation-order
    ulps in the average."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    big = (
        d.filter(F.size(toks) >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.zip_with(
                    F.slice(toks, 1, F.size(toks) - 1),
                    F.slice(toks, 2, F.size(toks) - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("bg"),
        )
    )
    model = big.groupBy("lang", "bg").agg(F.count(F.lit(1)).alias("c"))
    tot = model.groupBy("lang").agg(F.sum("c").alias("n"))
    return (
        big.join(model, ["lang", "bg"])
        .join(tot, "lang")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log(F.col("c") / (F.col("n") * 1.0))), 6).alias(
                "avg_logp"
            ),
        )
    )


# ------------------------------------------------ corpus filter composite

# CTE chain shared by q_llm_corpus_filter and the end-to-end curation
# pipeline (q_llm_curate_pipeline): token metrics, brute-force near-dup
# doc_b set, and per-doc keep/drop flags.
_CORPUS_FILTER_CTES = f"""{DUCK_SHINGLES_CTE},
m AS (
  SELECT doc_id,
         CAST(length(t) AS BIGINT) AS n_tokens,
         CAST(length(list_distinct(t)) AS DOUBLE) / length(t) AS uniq,
         CAST(greatest(length(t) - 2, 0) AS BIGINT) AS ng_total,
         CAST(length(list_distinct(list_transform(
             range(1, greatest(length(t) - 2, 0) + 1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS BIGINT)
           AS ng_distinct
  FROM toks
),
dup_b AS (
  SELECT DISTINCT b.doc_id AS doc_id
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(length(list_intersect(a.s, b.s)) AS DOUBLE)
        / length(list_distinct(list_concat(a.s, b.s))) >= 0.5
),
flags AS (
  SELECT m.doc_id,
         m.uniq < 0.35 AS low_uniq,
         CASE WHEN ng_total > 0
              THEN 1.0 - CAST(ng_distinct AS DOUBLE) / ng_total
              ELSE 0.0 END > 0.01 AS repetitive,
         m.doc_id IN (SELECT doc_id FROM dup_b) AS near_dup
  FROM m
)"""

_CORPUS_FILTER_ORACLE = f"""
WITH {_CORPUS_FILTER_CTES}
SELECT doc_id,
       NOT (low_uniq OR repetitive OR near_dup) AS keep,
       concat_ws(',',
                 CASE WHEN low_uniq THEN 'low_uniq' END,
                 CASE WHEN repetitive THEN 'repetitive' END,
                 CASE WHEN near_dup THEN 'near_dup' END) AS reasons
FROM flags
"""


@register("q_llm_corpus_filter", oracle=_CORPUS_FILTER_ORACLE, tags=("llm", "quality"))
def q_llm_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-cleaning decision query — the C4/Gopher-style pipeline
    endgame that every upstream signal feeds: per document, a keep/drop
    verdict plus machine-readable reasons. Rules composed here:
    token-uniqueness floor (uniq < 0.35 → token soup), duplicate-3-gram
    repetition ceiling (> 0.01 → looping boilerplate), and near-
    duplicate demotion (every verified LSH pair keeps only its minimum
    doc_id — the doc_b side drops). The heuristic thresholds compare
    identical integer-derived ratios on both engines, so the boundary
    is exact. Plan shape: the metric flags are map-only column algebra
    (_spread-parallelized — they shingle every document twice);
    the dedup flag is one left-semi join against the (tiny) verified-
    pair set — the LSH pipeline's cost dominates and is unchanged."""
    d = _spread(load(spark, sf_dir, "documents"), spark)
    toks = tokens("text")
    n_tok = F.size(toks)
    uniq = F.size(F.array_distinct(toks)).cast("double") / n_tok
    ng_total = F.greatest(F.size(toks) - 2, F.lit(0)).cast("long")
    ng_distinct = F.size(shingles(toks)).cast("long")
    rep = F.when(
        ng_total > 0, 1.0 - ng_distinct.cast("double") / ng_total
    ).otherwise(F.lit(0.0))
    dup_b = (
        q_llm_near_dedup(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    # The always-true spark_partition_id() guard is a PUSHDOWN BARRIER,
    # not logic (r18, guide §4.4's placement-control idea applied to JVM
    # expressions): when a composing query filters on these flags
    # (q_llm_curate_pipeline's keep-filter), Catalyst substitutes the
    # flag expressions into the predicate and pushes it below _spread's
    # round-robin exchange — the shingling-grade metric compute then
    # runs INSIDE the scan stage, single-threaded on this corpus'
    # one-row-group parquet (plan nodes 5-9 of
    # plans/r18/q_llm_curate_pipeline_before.txt). Marking the flags
    # nondeterministic (values are partition-independent — the guard is
    # always true, so retries are safe) pins the compute above the
    # exchange, where it runs at full cluster width. Measured at sf0.1:
    # q_llm_curate_pipeline 6.47 s → 3.43 s and q_llm_corpus_filter
    # 5.85 s → 2.97 s min-of-4 (same steal-burst window).
    _above_spread = F.spark_partition_id() >= 0
    flags = d.select(
        "doc_id",
        F.when(_above_spread, uniq < 0.35).alias("low_uniq"),
        F.when(_above_spread, rep > 0.01).alias("repetitive"),
    ).join(
        dup_b.withColumn("near_dup", F.lit(True)), "doc_id", "left"
    ).withColumn("near_dup", F.coalesce(F.col("near_dup"), F.lit(False)))
    return flags.select(
        "doc_id",
        (~(F.col("low_uniq") | F.col("repetitive") | F.col("near_dup"))).alias(
            "keep"
        ),
        F.concat_ws(
            ",",
            F.when(F.col("low_uniq"), "low_uniq"),
            F.when(F.col("repetitive"), "repetitive"),
            F.when(F.col("near_dup"), "near_dup"),
        ).alias("reasons"),
    )


# ------------------------------------------------------- chunking / reports


@register(
    "q_llm_chunk_split",
    oracle="""
WITH d AS (
  SELECT doc_id, text,
         CAST(floor((length(text) + 149) / 150.0) AS BIGINT) AS n
  FROM documents
),
idx AS (
  SELECT doc_id, text, unnest(generate_series(0, n - 1)) AS chunk_idx
  FROM d
)
SELECT doc_id, chunk_idx,
       length(substr(text, CAST(chunk_idx * 150 + 1 AS INT), 200)) AS chunk_len,
       md5(substr(text, CAST(chunk_idx * 150 + 1 AS INT), 200)) AS chunk_md5
FROM idx
""",
    tags=("llm", "chunk"),
)
def q_llm_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking: split every document into
    200-char chunks on a 150-char stride (50-char overlap) — the
    retrieval / pretraining preprocessing step that turns documents
    into model-sized passages. Chunk count and boundaries are integer
    arithmetic on length(text), identical across engines; chunks are
    reported as (len, md5) rather than raw text to keep the result
    narrow. Map-only: explode(sequence()) + substring fuse into one
    codegen stage with no shuffle at any corpus size — at 100 TB this
    is embarrassingly parallel scan work."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    n = F.expr("(length(text) + 149) div 150")
    chunk = F.expr("substring(text, chunk_idx * 150 + 1, 200)")
    return (
        d.withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), (n - 1).cast("int"))))
        .withColumn("chunk_idx", F.col("chunk_idx").cast("long"))
        .select(
            "doc_id",
            "chunk_idx",
            F.length(chunk).cast("long").alias("chunk_len"),
            F.md5(chunk).alias("chunk_md5"),
        )
    )


_DUP_BY_SOURCE_ORACLE = f"""
WITH {DUCK_SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         round(CAST(length(list_intersect(a.s, b.s)) AS DOUBLE)
               / length(list_distinct(list_concat(a.s, b.s))), 6) AS jac
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
),
dup_docs AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM pairs WHERE jac >= 0.5
    UNION ALL
    SELECT doc_b AS doc_id FROM pairs WHERE jac >= 0.5
  )
)
SELECT d.source,
       count(*) AS n_docs,
       count(dd.doc_id) AS n_dup_docs,
       round(CAST(count(dd.doc_id) AS DOUBLE) / count(*), 6) AS dup_ratio
FROM documents d LEFT JOIN dup_docs dd USING (doc_id)
GROUP BY d.source
ORDER BY d.source
"""


@register(
    "q_llm_dup_ratio_by_source",
    oracle=_DUP_BY_SOURCE_ORACLE,
    tags=("llm", "dedup", "report"),
)
def q_llm_dup_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health report: per source, what fraction of documents sit
    in at least one verified near-duplicate pair — the number a data
    curator watches to find scrapers re-ingesting the same site. Built
    ON TOP of the LSH pipeline (q_llm_near_dedup): its verified pairs
    are unioned to a distinct doc set (tiny — bounded by pair count,
    not corpus) and left-joined back to documents for per-source
    ratios. Adds one small-side join and one groupBy(source) to the
    dedup cost; the oracle recomputes pairs by brute force."""
    pairs = q_llm_near_dedup(spark, sf_dir)
    dup_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        d.join(dup_docs, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("is_dup").alias("n_dup_docs"),
            F.round(
                F.count("is_dup").cast("double") / F.count(F.lit(1)), 6
            ).alias("dup_ratio"),
        )
        .orderBy("source")
    )


_CURATE_ORACLE = f"""
WITH {_CORPUS_FILTER_CTES},
kept AS (
  SELECT doc_id FROM flags
  WHERE NOT (low_uniq OR repetitive OR near_dup)
),
b AS (
  SELECT d.lang, d.n_chars,
         (({duck_token_hash32("CAST(d.doc_id AS VARCHAR)")}) % 10000 + 10000)
           % 10000 AS bucket
  FROM documents d JOIN kept USING (doc_id)
)
SELECT CASE WHEN bucket < 8000 THEN 'train'
            WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split,
       lang,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT) AS est_tokens
FROM b
GROUP BY split, lang
ORDER BY split, lang
"""


@register("q_llm_curate_pipeline", oracle=_CURATE_ORACLE, tags=("llm", "pipeline"))
def q_llm_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation pipeline, composed from the engine's own
    stages exactly as a user would chain them: quality + near-dup
    keep/drop verdicts (q_llm_corpus_filter: uniqueness floor,
    repetition ceiling, LSH dedup demotion) → surviving docs →
    contamination-safe hash-bucket train/val/test split (same mechanism
    as q_llm_train_split) → per-(split, lang) corpus report with
    document, character, and ~4-chars/token estimated-token totals.
    One logical plan end to end — Catalyst sees through the whole
    composition (the filter's semi-join, the LSH band shuffle, the
    split CASE, and the final bounded-cardinality aggregate), so
    nothing materializes between stages. The scale cost is the LSH
    pipeline's; everything after it is a semi-join + map-side split +
    one small aggregate."""
    verdicts = q_llm_corpus_filter(spark, sf_dir)
    kept = verdicts.filter(F.col("keep")).select("doc_id")
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    bucket = F.pmod(token_hash32(F.col("doc_id").cast("string")), F.lit(10000))
    split = (
        F.when(bucket < 8000, "train").when(bucket < 9000, "val").otherwise("test")
    )
    est = F.ceil(F.col("n_chars") / 4.0).cast("long")
    return (
        docs.join(kept, "doc_id", "semi")
        .select(split.alias("split"), "lang", "n_chars", est.alias("est"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("est").alias("est_tokens"),
        )
        .orderBy("split", "lang")
    )


@register(
    "q_llm_posting_lists",
    oracle="""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
ranked AS (
  SELECT term, doc_id,
         COUNT(*) OVER (PARTITION BY term) AS df,
         row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
  FROM tok
)
SELECT term, CAST(df AS BIGINT) AS df,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
         AS head_postings
FROM ranked
WHERE rn <= 10 AND df >= 2
GROUP BY term, df
""",
    tags=("llm", "text", "index"),
)
def q_llm_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term → document frequency + the first 10
    postings (sorted doc ids, comma-joined for cross-engine cells).
    Tokens are deduplicated per document BEFORE the shuffle (array_
    distinct on the token array — map-side), so a term repeated 100×
    in one doc costs one posting row. df rides a count window over the
    same term partition the head-of-list row_number uses, so index
    construction is ONE exchange on term. The head-truncation is the
    scale guard: a stopword's full posting list at 100 TB is the
    corpus itself; capping the materialized list (df stays exact)
    keeps the output bounded per term. df >= 2 drops hapax terms (the
    long tail that bloats an index with single-use entries)."""
    tok = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.array_distinct(tokens(F.lower(F.col("text"))))).alias(
                "term"
            ),
        )
    )
    wt = Window.partitionBy("term")
    ranked = tok.select(
        "term",
        "doc_id",
        F.count(F.lit(1)).over(wt).alias("df"),
        F.row_number().over(wt.orderBy("doc_id")).alias("rn"),
    )
    return (
        ranked.filter((F.col("rn") <= 10) & (F.col("df") >= 2))
        .groupBy("term", F.col("df").cast("long").alias("df"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("head_postings")
        )
    )


@register(
    "q_llm_dedup_keep_best",
    oracle=f"""
{_CLUSTERS_CTE},
sized AS (
  SELECT doc, cluster_id,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n
  FROM lab
),
scored AS (
  SELECT s.cluster_id, s.n, d.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY s.cluster_id
                            ORDER BY d.n_chars DESC, d.doc_id) AS rk
  FROM sized s JOIN documents d ON d.doc_id = s.doc
)
SELECT cluster_id,
       CAST(n AS BIGINT) AS cluster_size,
       doc_id AS kept_doc_id,
       CAST(n_chars AS BIGINT) AS kept_n_chars,
       CAST(n - 1 AS BIGINT) AS n_dropped
FROM scored
WHERE rk = 1
""",
    tags=("llm", "dedup", "curation"),
)
def q_llm_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware duplicate resolution — the step after cluster
    assembly: inside every near-duplicate cluster keep the highest-
    quality member (here: longest document, doc_id as tiebreak) and
    count the drops. Production dedup keeps the BEST copy, not the
    arbitrary min-id one: boilerplate-stripped originals beat mirrored
    truncations. Composition stays declarative end-to-end — the
    component labels feed a keyed join against the document metadata
    and one per-cluster top-1 window; clusters are tiny relative to
    the corpus, so everything after the (already-bounded) label
    fixpoint is one join plus one exchange on cluster_id."""
    clusters = q_llm_dedup_clusters(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    scored = clusters.join(docs, "doc_id").withColumn(
        "rk", F.row_number().over(w)
    )
    return scored.filter(F.col("rk") == 1).select(
        "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.col("doc_id").alias("kept_doc_id"),
        F.col("n_chars").cast("long").alias("kept_n_chars"),
        (F.col("cluster_size") - 1).cast("long").alias("n_dropped"),
    )


@register(
    "q_llm_containment",
    oracle=f"""
WITH {DUCK_SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         round(CAST(length(list_intersect(a.s, b.s)) AS DOUBLE)
               / least(length(a.s), length(b.s)), 6) AS containment,
         round(CAST(length(list_intersect(a.s, b.s)) AS DOUBLE)
               / length(list_distinct(list_concat(a.s, b.s))), 6) AS jac
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE length(a.s) > 0 AND length(b.s) > 0
)
SELECT doc_a, doc_b, containment, jac
FROM pairs WHERE containment >= 0.8
""",
    tags=("llm", "dedup", "lsh"),
)
def q_llm_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-duplicate detection by shingle CONTAINMENT
    (|A∩B| / min(|A|,|B|)): catches a truncated or excerpted mirror —
    a short doc wholly contained in a long one — which symmetric
    Jaccard misses (the union is dominated by the long doc, so jac
    stays low while containment is ~1). Candidates come from the SAME
    MinHash band buckets as q_llm_near_dedup... with a lower exact
    threshold: a pair at containment 0.8 with a 2:1 length ratio sits
    near jac 0.44, and the 32-band×2-row LSH still catches jac 0.4+
    with P ≈ 1-(1-0.16)^32 ≈ 0.996; the corpus's planted containment
    pairs all verify (parity with the brute-force oracle proves no
    candidate was missed). Same scale shape as near-dedup: signature
    algebra in codegen, one band shuffle, in-bucket pair expansion,
    exact verification on candidates only."""
    d = _cached_shingle_sets(load(spark, sf_dir, "documents"))
    candidates = lsh_candidate_pairs(minhash_band_keys(d), BUCKET_CAP)
    return verify_pairs(
        candidates, d, 0.8, containment=_containment, jac=jaccard
    )


def _containment(a, b):
    """|A∩B| / min(|A|, |B|) over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    return inter / F.least(F.size(a), F.size(b))


_SPAN_N = 12
_DUCK_SPAN_EXPR = " || ' ' || ".join(f"t[i+{j}]" for j in range(_SPAN_N))


# 60-bit md5-fold span key (15 hex digits → < 2^60, safely inside
# BIGINT on both engines). Hashing BEFORE the shuffle cuts the df
# exchange from ~80-byte span strings to 8-byte longs. Collisions:
# birthday math expects O(1) merged keys around 10⁹ distinct spans —
# a merge nudges two spans' df counts (noise for dup-ratio statistics;
# widen the key if exactness at that scale matters) and can never
# break cross-engine parity, because both engines hash identically.
_SPAN_HEX = 15


def _span_key(col):
    return F.conv(F.substring(F.md5(col), 1, _SPAN_HEX), 16, 10).cast("long")


_DUCK_SPAN_KEY = (
    f"list_reduce(list_transform(string_split(substr(md5(span), 1, {_SPAN_HEX}), ''),"
    " c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)"
)


@register(
    "q_llm_substring_dup",
    oracle=f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
spans0 AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(length(t) - {_SPAN_N - 1}, 0) + 1),
           i -> {_DUCK_SPAN_EXPR}))) AS span
  FROM toks
),
spans AS (SELECT doc_id, {_DUCK_SPAN_KEY} AS span_h FROM spans0),
df AS (
  SELECT span_h, COUNT(DISTINCT doc_id) AS n_docs FROM spans GROUP BY span_h
)
SELECT s.doc_id,
       COUNT(*) AS n_spans,
       COUNT(*) FILTER (WHERE df.n_docs >= 2) AS n_dup_spans,
       round(CAST(COUNT(*) FILTER (WHERE df.n_docs >= 2) AS DOUBLE)
             / COUNT(*), 6) AS dup_ratio
FROM spans s JOIN df ON s.span_h = df.span_h
GROUP BY s.doc_id
""",
    tags=("llm", "dedup", "substring"),
)
def q_llm_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSTRING-level duplication audit (the Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better" shape):
    exact duplicate detection at the granularity of 12-token spans
    rather than whole documents — catches boilerplate headers, quoted
    passages, and template text that document-level MinHash dilutes
    away. Per document: how many of its distinct spans also occur in
    at least one OTHER document, and the resulting dup ratio (the
    usual drop/trim signal for span-level cleaning).

    Scale shape: explode distinct spans → hash each span to a 60-bit
    md5-fold key BEFORE the shuffle (8-byte longs instead of ~80-byte
    strings through both the df exchange and the join — the hash is
    engine-portable, so the oracle hashes identically and parity holds
    bit-for-bit) → ONE groupBy(span_h) for global document frequency →
    join back on span_h (same partitioning, exchange reused) → per-doc
    aggregate. At 100 TB add the df-cap for ultra-hot boilerplate
    spans exactly like q_llm_ngram_jaccard's posting-list cap — a span
    in d docs costs d index rows, never d² pairs, which is what makes
    substring dedup shippable where pairwise span comparison is not."""
    d = load(spark, sf_dir, "documents").select("doc_id", tokens("text").alias("t"))
    # The span table feeds the document-frequency aggregate AND the
    # join back; without materialization the 12-token shingling + md5
    # span hashing ran twice (r18 executed-plan probe: 2 scans, no
    # runtime subtree reuse). Two skinny long columns — cheap to hold.
    spans = _scoped_cache(
        d.select(
            "doc_id",
            F.explode(
                F.transform(shingles(F.col("t"), _SPAN_N), _span_key)
            ).alias("span_h"),
        )
    )
    df_counts = spans.groupBy("span_h").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return (
        spans.join(df_counts, "span_h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count(F.when(F.col("n_docs") >= 2, 1)).alias("n_dup_spans"),
            F.round(
                F.count(F.when(F.col("n_docs") >= 2, 1))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_ratio"),
        )
    )


_VOCAB_SIZE = 256


@register(
    "q_llm_vocab_induction",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
  FROM documents
),
counts AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
vocab AS (
  SELECT tok FROM (
    SELECT tok, row_number() OVER (ORDER BY n DESC, tok) AS rk FROM counts
  ) WHERE rk <= {_VOCAB_SIZE}
)
SELECT t.lang,
       COUNT(*) AS n_tokens,
       COUNT(*) FILTER (WHERE v.tok IS NULL) AS n_oov,
       round(CAST(COUNT(*) FILTER (WHERE v.tok IS NULL) AS DOUBLE)
             / COUNT(*), 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY t.lang
""",
    tags=("llm", "tokenizer"),
)
def q_llm_vocab_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary induction + coverage audit: build the
    top-V vocabulary by global token frequency (deterministic tiebreak
    on the token itself), then measure per-language out-of-vocabulary
    rates — the go/no-go report before freezing a tokenizer on a new
    corpus mix. Shape: one explode → one token-count aggregate
    (map-side combined; token space is zipf, so partials collapse
    hard) → top-V via TakeOrderedAndProject semantics (V rows, never a
    global sort of the vocabulary) → broadcast the V-row vocab back as
    a LEFT join for the coverage pass. The corpus streams through
    twice but shuffles only token partials and (lang) partials; the
    vocab itself is KB-sized at any corpus scale, which is what makes
    the coverage join broadcastable forever."""
    toks_df = (
        load(spark, sf_dir, "documents")
        .select("lang", F.explode(tokens("text")).alias("tok"))
    )
    counts = toks_df.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        counts.orderBy(F.col("n").desc(), "tok")
        .limit(_VOCAB_SIZE)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        toks_df.join(F.broadcast(vocab), "tok", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
            F.round(
                F.count(F.when(F.col("in_vocab").isNull(), 1))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("oov_rate"),
        )
    )


_BM25_QUERY = ("join", "scan", "window")  # fixed query terms
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


@register(
    "q_llm_bm25",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
toks_ne AS (SELECT doc_id, term FROM toks WHERE term <> ''),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks_ne GROUP BY doc_id),
corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl
),
tfq AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks_ne
  WHERE term IN {str(tuple(_BM25_QUERY))}
  GROUP BY doc_id, term
),
dft AS (SELECT term, COUNT(*) AS df FROM tfq GROUP BY term),
scored AS (
  SELECT t.doc_id,
         SUM(
           ln(1 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (t.tf * ({_BM25_K1} + 1))
           / (t.tf + {_BM25_K1}
              * (1 - {_BM25_B} + {_BM25_B} * l.dl / c.avgdl))
         ) AS s
  FROM tfq t
  JOIN dft d USING (term)
  JOIN dl l USING (doc_id)
  CROSS JOIN corpus c
  GROUP BY t.doc_id
)
SELECT doc_id, round(s, 6) AS bm25
FROM scored
ORDER BY round(s, 6) DESC, doc_id
LIMIT {_BM25_TOPK}
""",
    tags=("llm", "text", "search", "ranking"),
)
def q_llm_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval: top-20 documents for a fixed 3-term
    query under the classic Okapi weighting (k1=1.2, b=0.75,
    idf = ln(1 + (N−df+0.5)/(df+0.5))) — the lexical-search
    counterpart to the cosine ANN family, composing tokenize → tf →
    df → length-normalized score end-to-end.

    Scale shape: the token explosion is filtered to the QUERY terms
    before any aggregation, so the tf pass shuffles only matching
    postings (|query| ≈ 3 terms, not the vocabulary); document length
    is a second linear aggregate over the same exploded scan (one
    shared exchange under reuse); df and the corpus constants are
    KB-sized broadcasts; the finish is a top-k
    (TakeOrderedAndProject), never a global sort. Float posture
    follows the llm_vector convention: scores are compared ROUNDED to
    6 dp with doc_id tie-breaks — ln/÷ are IEEE-identical on both
    engines for identical inputs, so only a score landing within an
    ulp of a rounding boundary could differ (the same accepted
    residual risk as every cosine query)."""
    toks = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.split(F.lower("text"), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("dl").cast("long")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    tfq = (
        toks.filter(F.col("term").isin(*_BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tfq.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + _BM25_K1 * (
        1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tfq.join(F.broadcast(dft), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(
            F.sum(idf * (F.col("tf") * (_BM25_K1 + 1)) / norm).alias("s")
        )
    )
    return (
        scored.select("doc_id", F.round("s", 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_BM25_TOPK)
    )


_CROSS_DEDUP_ORACLE = f"""
WITH {DUCK_SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         round(CAST(length(list_intersect(a.s, b.s)) AS DOUBLE)
               / length(list_distinct(list_concat(a.s, b.s))), 6) AS jac
  FROM sh a JOIN sh b
    ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
)
SELECT doc_a, doc_b, jac FROM pairs WHERE jac >= 0.5
"""


@register(
    "q_llm_cross_dedup",
    oracle=_CROSS_DEDUP_ORACLE,
    tags=("llm", "dedup", "lsh", "decontamination"),
)
def q_llm_cross_dedup(
    spark: SparkSession, sf_dir: str, bucket_cap: int = BUCKET_CAP
) -> DataFrame:
    """CROSS-corpus near-duplicate join — the near-dup form of
    train/eval decontamination (q_llm_decontaminate catches exact
    shingle hits; this catches paraphrase-level overlap): all
    (train, eval) document pairs with Jaccard ≥ 0.5, where the two
    corpora are the even/odd doc_id halves of the documents table.

    Same 100-TB shape as q_llm_near_dedup — per-row signature algebra,
    ONE band-key groupBy, pair expansion inside buckets — but the
    bucket expansion is the A×B bipartite product only: each bucket
    collects its two sides separately and never pairs two documents
    from the same corpus, so candidate work is |A∩bucket|·|B∩bucket|
    rather than C(k,2), and the asymmetric common case (small eval
    set vs huge train corpus) costs |bucket_B| per train doc. The
    per-side ``bucket_cap`` skew guard and the exact-Jaccard
    verification pass carry over unchanged; the oracle brute-forces
    the bipartite product."""
    d = _cached_shingle_sets(load(spark, sf_dir, "documents"))
    banded = minhash_band_keys(d).withColumn(
        "side", F.pmod(F.col("doc_id"), F.lit(2))
    )
    ids_a = F.array_sort(
        F.collect_set(F.when(F.col("side") == 0, F.col("doc_id")))
    ).alias("ids_a")
    ids_b = F.array_sort(
        F.collect_set(F.when(F.col("side") == 1, F.col("doc_id")))
    ).alias("ids_b")
    pair_structs = F.flatten(
        F.transform(
            F.col("ids_a"),
            lambda x: F.transform(
                F.col("ids_b"),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    candidates = (
        banded.groupBy("band_key")
        .agg(ids_a, ids_b)
        .filter(
            (F.size("ids_a") >= 1)
            & (F.size("ids_b") >= 1)
            & (F.size("ids_a") <= bucket_cap)
            & (F.size("ids_b") <= bucket_cap)
        )
        .select(F.explode(pair_structs).alias("p"))
        .select(
            F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
        )
        .distinct()
    )
    return verify_pairs(candidates, d, 0.5, jac=jaccard)


@register(
    "q_llm_winnowing",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
th AS (
  SELECT doc_id,
         list_transform(toks, w -> list_reduce(
             list_concat([CAST(0 AS BIGINT)],
               list_transform(string_split(w, ''),
                              c -> CAST(ascii(c) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 1000000007)) AS tv
  FROM t
  WHERE greatest(length(toks) - 2, 0) >= 4
),
h AS (
  SELECT doc_id,
         list_transform(range(1, length(tv) - 2 + 1),
           i -> (((tv[i] * 131 + tv[i+1]) % 1000000007) * 131 + tv[i+2])
                % 1000000007) AS hs
  FROM th
),
sel AS (
  SELECT doc_id, hs,
         list_distinct(list_transform(range(4, length(hs) + 1),
           e -> list_max(list_transform(range(e - 3, e + 1),
                  j -> CASE WHEN hs[j] = list_min(hs[e-3:e])
                            THEN j ELSE 0 END)))) AS pos_list
  FROM h
)
SELECT doc_id, CAST(u.pos AS INTEGER) AS pos, hs[u.pos] AS fp
FROM sel, UNNEST(pos_list) AS u(pos)
""",
    tags=("llm", "text", "fingerprint", "winnowing"),
)
def q_llm_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust winnowing (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    fingerprint selector): per document, hash every 3-token shingle,
    slide a window of w=4 hashes, and keep the window minimum (ties →
    RIGHTMOST position), distinct over windows. The winnowing
    guarantee: any shared token run of ≥ w+k−1 = 6 tokens between two
    documents shares at least one selected fingerprint — so matching
    selected (fp) sets finds LOCAL plagiarism/boilerplate overlap at
    ~2/(w+1) the full k-gram index size; MinHash bounds global
    resemblance, winnowing bounds local containment — different tool.

    Hashing is two composed cross-engine polynomial folds: per-token
    char hash (base 31 mod 1e9+7 — one O(chars) pass per doc), then a
    3-term base-131 mix per shingle — O(1) per gram instead of
    re-folding each gram's characters (~10× on this corpus). Both
    levels are bound as lambda variables via transform(array(x), ...)
    because CollapseProject otherwise INLINES the array expressions
    into every nested window reference and the plan goes quadratic
    (measured: 217 s → ~1 s at sf0.001 for the char-fold variant).
    Everything is per-row array algebra — zero shuffle, zero UDF;
    emitted (doc_id, pos, fp) rows feed the standard posting-list
    machinery for the cross-doc match join. Docs shorter than
    w+k−1 = 6 tokens emit nothing. The oracle replays the identical
    selection in DuckDB list algebra; bit-exact integer parity.
    Deliberately NOT _spread (r13, measured): 2.67 s → 2.57 s at
    sf0.1/32 threads and winnow_matches 3.44 s → 3.66 s — the 101k-row
    result transfer and the match join's own exchanges dominate, so
    the extra map-side exchange buys nothing here."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    n_g = F.greatest(F.size(toks) - 2, F.lit(0))
    P = F.lit(1000000007)
    tok_hash = lambda w: F.aggregate(  # noqa: E731
        F.transform(F.split(w, ""), lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * 31 + x, P),
    )
    tok_h = F.transform(toks, tok_hash)

    def _sel(hsv):
        win_min = lambda e: F.array_min(F.slice(hsv, e - 3, 4))  # noqa: E731
        pick = lambda e: F.aggregate(  # noqa: E731
            F.sequence(e - 3, e),
            F.lit(0),
            lambda acc, j: F.when(
                F.element_at(hsv, j) == win_min(e), F.greatest(acc, j)
            ).otherwise(acc),
        )
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(4), F.size(hsv)),
                lambda e: F.struct(
                    pick(e).cast("int").alias("pos"),
                    win_min(e).alias("fp"),
                ),
            )
        )

    def _pairs(thv):
        hs = F.transform(
            F.sequence(F.lit(1), F.size(thv) - 2),
            lambda i: F.pmod(
                F.pmod(
                    F.element_at(thv, i) * 131 + F.element_at(thv, i + 1), P
                )
                * 131
                + F.element_at(thv, i + 2),
                P,
            ),
        )
        return F.element_at(F.transform(F.array(hs), _sel), 1)

    pairs = F.element_at(F.transform(F.array(tok_h), _pairs), 1)
    # one-row-group corpus file → repartition so the CPU-heavy hash
    # selection runs across the cluster (the q_llm_ngram_jaccard fix)
    base = (
        d.filter(n_g >= 4)
        .repartition(shuffle_partitions(spark), "doc_id")
        .select("doc_id", pairs.alias("pairs"))
    )
    return base.select(
        "doc_id", F.explode("pairs").alias("p")
    ).select("doc_id", F.col("p.pos").alias("pos"), F.col("p.fp").alias("fp"))


@register(
    "q_llm_winnow_matches",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
th AS (
  SELECT doc_id,
         list_transform(toks, w -> list_reduce(
             list_concat([CAST(0 AS BIGINT)],
               list_transform(string_split(w, ''),
                              c -> CAST(ascii(c) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 1000000007)) AS tv
  FROM t
  WHERE greatest(length(toks) - 2, 0) >= 4
),
h AS (
  SELECT doc_id,
         list_transform(range(1, length(tv) - 2 + 1),
           i -> (((tv[i] * 131 + tv[i+1]) % 1000000007) * 131 + tv[i+2])
                % 1000000007) AS hs
  FROM th
),
sel AS (
  SELECT doc_id, hs,
         list_distinct(list_transform(range(4, length(hs) + 1),
           e -> list_max(list_transform(range(e - 3, e + 1),
                  j -> CASE WHEN hs[j] = list_min(hs[e-3:e])
                            THEN j ELSE 0 END)))) AS pos_list
  FROM h
),
fps AS (
  SELECT DISTINCT doc_id, hs[u.pos] AS fp
  FROM sel, UNNEST(pos_list) AS u(pos)
),
okfp AS (
  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 32
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp
  FROM fps a JOIN fps b USING (fp) JOIN okfp USING (fp)
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM pairs GROUP BY doc_a, doc_b
HAVING COUNT(*) >= 2
""",
    tags=("llm", "text", "fingerprint", "winnowing", "dedup"),
)
def q_llm_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document LOCAL-overlap detection from winnowing
    fingerprints — the second half of the MOSS pipeline: invert the
    selected (doc, fp) set into postings, drop stop-prints (fps in >32
    docs — ubiquitous boilerplate, the df_cap discipline of
    q_llm_ngram_jaccard), expand pairs inside each posting, and keep
    pairs sharing ≥ 2 fingerprints. By the winnowing guarantee every
    surviving pair shares at least two ≥6-token runs — contiguous
    plagiarism/quotation/boilerplate the global-resemblance dedups
    (MinHash/SimHash) are blind to when it sits inside otherwise
    different documents.

    Scale: candidate work is Σ_fp df(fp)² with df ≤ 32 — bounded
    per-posting expansion, one shuffle on fp, one on the pair key;
    identical cost envelope to the LSH-bucket joins (SCALE.md §5).
    Distinct-before-join keeps a doc repeating a fingerprint from
    inflating counts."""
    # The distinct fingerprint set feeds the stop-print aggregate AND
    # both posting sides; without materialization the full winnowing
    # selection chain recomputed once per consumer (r18 executed-plan
    # probe: 4 scans, no runtime subtree reuse). Two skinny columns.
    fps = _scoped_cache(
        q_llm_winnowing(spark, sf_dir)
        .select("doc_id", "fp")
        .distinct()
    )
    ok = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= 32))
        .select("fp")
    )
    a = fps.join(ok, "fp").select("fp", F.col("doc_id").alias("doc_a"))
    b = fps.join(ok, "fp").select("fp", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
