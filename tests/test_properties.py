"""Property-based tests (hypothesis) for the custom operators whose
semantics Spark doesn't provide natively — the union+window as-of join
and the LSH pair expansion — checked against brute-force Python oracles
on arbitrary generated inputs (SURVEY.md §5.2: operator unit tests on
literal DataFrames with nulls/ties/boundaries, here randomized)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# One event: (event_id unique, user_id small domain to force collisions,
# kind, t small int domain to force ts ties — the hard case)
events_strategy = st.lists(
    st.tuples(
        st.integers(0, 5),  # user_id
        st.sampled_from(["click", "purchase"]),
        st.integers(0, 8),  # t (coarse timestamps → many ties)
    ),
    min_size=0,
    max_size=30,
)


def brute_asof(rows):
    """For each purchase: latest click of same user with (t, event_id)
    strictly before (t, event_id) of the purchase; ties → larger id wins."""
    out = {}
    for pid, (pu, pk, pt) in enumerate(rows):
        if pk != "purchase":
            continue
        best = None
        for cid, (cu, ck, ct) in enumerate(rows):
            if ck == "click" and cu == pu and (ct, cid) < (pt, pid):
                if best is None or (ct, cid) > best:
                    best = (ct, cid)
        out[pid] = best[1] if best else None
    return out


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(events_strategy)
def test_asof_union_window_matches_bruteforce(spark, rows):
    df = spark.createDataFrame(
        [(i, u, k, t) for i, (u, k, t) in enumerate(rows)] or [(None, None, None, None)],
        "event_id long, user_id long, kind string, t long",
    ).filter(F.col("event_id").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_id = F.when(F.col("kind") == "click", F.col("event_id"))
    got = {
        r["event_id"]: r["last_click_id"]
        for r in (
            df.withColumn("last_click_id", F.last(click_id, ignorenulls=True).over(w))
            .filter(F.col("kind") == "purchase")
            .collect()
        )
    }
    assert got == brute_asof(rows)


pair_ids = st.lists(st.integers(0, 50), min_size=0, max_size=12, unique=True)


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(pair_ids, min_size=1, max_size=4))
def test_bucket_pair_expansion_matches_bruteforce(spark, buckets):
    """The in-array pair expansion used by q_llm_near_dedup must emit
    exactly the a<b pairs of each bucket (then distinct across buckets)."""
    df = spark.createDataFrame(
        [(i, ids) for i, ids in enumerate(buckets)],
        "bucket long, raw array<long>",
    ).select("bucket", F.array_sort("raw").alias("ids"))
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    got = {
        (r["p"]["a"], r["p"]["b"])
        for r in df.filter(F.size("ids") > 1)
        .select(F.explode(pair_structs).alias("p"))
        .distinct()
        .collect()
    }
    want = {
        (a, b)
        for ids in buckets
        for a in ids
        for b in ids
        if a < b
    }
    assert got == want


def test_ngram_jaccard_df_cap_bounds_hot_shingle(spark, tmp_path):
    """A boilerplate shingle shared by every document must NOT generate
    candidate pairs once its document frequency exceeds the cap: docs
    related only through the hot shingle produce no output, while pairs
    sharing rare shingles are still found exactly."""
    from micmac_li3ds_spark.operators.llm_text import q_llm_ngram_jaccard

    hot = "common boilerplate header line"  # 4 tokens -> one hot 3-shingle chain
    rows = []
    # 30 unrelated docs that share ONLY the boilerplate text
    for i in range(30):
        rows.append((i, f"{hot} unique{i}a unique{i}b unique{i}c", "en", "web"))
    # one true duplicate pair sharing rare shingles (and the boilerplate)
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows.append((100, f"{hot} {dup}", "en", "web"))
    rows.append((101, f"{hot} {dup} iota", "en", "web"))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text"))
    out = str(tmp_path / "documents.parquet")
    df.write.parquet(out)

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in q_llm_ngram_jaccard(spark, str(tmp_path), df_cap=8).collect()
    }
    assert pairs == {(100, 101)}

    # quantify the bound: candidate pairs = Σ C(df,2) over shingles.
    # The hot shingles (df=32) alone contribute C(32,2)=496 each when
    # uncapped; after the cap only the rare planted shingles remain.
    from micmac_li3ds_spark.functions.text import shingles, tokens

    d = spark.read.parquet(out)
    dfc = (
        d.select("doc_id", F.explode(shingles(tokens("text"))).alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    npairs = F.sum(F.col("df") * (F.col("df") - 1) / 2)
    total = dfc.agg(npairs).first()[0]
    capped = dfc.filter(F.col("df") <= 8).agg(npairs).first()[0]
    assert total > 400
    assert capped < 50


def test_corpus_has_no_pairs_in_fragile_lsh_band(duck):
    """Corpus contract behind q_llm_near_dedup's oracle parity: with 64
    MinHash perms (32 bands x 2 rows) a pair at jac just above the 0.5
    verification threshold has ~1e-4 candidate-miss probability, so
    value-parity vs the brute-force oracle implicitly assumes the corpus
    has no pairs in the marginal band. Assert it: every brute-force pair
    is either a planted near-duplicate (jac >= 0.75, where P(miss) <
    1e-12) or background (jac < 0.45). If a regenerated corpus ever
    lands pairs in [0.45, 0.75) this fails loudly instead of parity
    flaking silently."""
    from micmac_li3ds_spark.functions.text import DUCK_SHINGLES_CTE

    fragile = duck.execute(
        f"""
WITH {DUCK_SHINGLES_CTE},
pairs AS (
  SELECT round(CAST(length(list_intersect(a.s, b.s)) AS DOUBLE)
               / length(list_distinct(list_concat(a.s, b.s))), 6) AS jac
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT COUNT(*) FROM pairs WHERE jac >= 0.45 AND jac < 0.75
"""
    ).fetchone()[0]
    assert fragile == 0


def test_containment_pairs_share_a_band_bucket(spark, duck, sf_dir):
    """Corpus contract behind q_llm_containment's oracle parity: the
    probabilistic LSH candidate stage feeds an EXACT brute-force
    oracle, and band-catch probability decays with the pair's length
    ratio (~0.999 at 2:1, ~0.69 at 4:1) — exactly the truncated-mirror
    shape containment exists to catch. Pin the real invariant directly:
    every pair the oracle emits (containment >= 0.8, exact) must share
    at least one MinHash band bucket on the actual banded assignment.
    A regenerated corpus with higher-ratio containment pairs fails here
    loudly instead of parity flaking silently."""
    from pyspark.sql import functions as F

    from micmac_li3ds_spark.functions.text import DUCK_SHINGLES_CTE
    from micmac_li3ds_spark.operators.llm_text import (
        minhash_band_keys,
        shingle_sets,
    )
    from micmac_li3ds_spark.tables import load

    exact = duck.execute(
        f"""
WITH {DUCK_SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(length(list_intersect(a.s, b.s)) AS DOUBLE)
           / least(length(a.s), length(b.s)) AS containment
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE length(a.s) > 0 AND length(b.s) > 0
)
SELECT doc_a, doc_b FROM pairs WHERE containment >= 0.8
"""
    ).fetchall()
    assert exact, "corpus must plant containment pairs for this test to bite"

    banded = minhash_band_keys(shingle_sets(load(spark, sf_dir, "documents")))
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in (
            banded.alias("a")
            .join(banded.alias("b"), "band_key")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
            .collect()
        )
    }
    missed = [p for p in exact if p not in cand]
    assert not missed, f"containment pairs with no shared band bucket: {missed}"


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100)),  # (key, payload)
        min_size=0, max_size=25,
    ),
    st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)),
             min_size=0, max_size=10),
)
def test_salted_join_equals_plain_join(spark, left_rows, right_rows):
    """The q_join_skew_salted rewrite (deterministic salt on the big
    side, explode-replicated small side, join on (key, salt)) must be
    row-for-row equivalent to the plain join on arbitrary inputs —
    including duplicate keys on both sides and keys present on only
    one side."""
    S = 4
    left = spark.createDataFrame(
        [(k, p, i) for i, (k, p) in enumerate(left_rows)] or [(None, None, None)],
        "k long, p long, rid long",
    ).filter(F.col("rid").isNotNull())
    right = spark.createDataFrame(
        [(k, p, i) for i, (k, p) in enumerate(right_rows)] or [(None, None, None)],
        "k long, q long, sid long",
    ).filter(F.col("sid").isNotNull())

    plain = left.join(right, "k").select("k", "p", "rid", "q", "sid")
    lsalt = left.withColumn("salt", F.pmod(F.col("rid"), F.lit(S)))
    rsalt = right.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(S)]))
    )
    salted = (
        lsalt.join(rsalt, ["k", "salt"]).select("k", "p", "rid", "q", "sid")
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_near_dedup_bucket_cap_bounds_mega_bucket(spark, tmp_path):
    """A degenerate band bucket (here: 40 byte-identical boilerplate
    docs, which agree on EVERY band) must be dropped once its size
    exceeds bucket_cap, while a planted near-duplicate pair with its own
    rare text is still found exactly — the same drop-the-boilerplate
    contract as q_llm_ngram_jaccard's df_cap."""
    from micmac_li3ds_spark.operators.llm_text import q_llm_near_dedup

    boiler = "terms of service apply to all content on this mirror site"
    rows = [(i, boiler, "en", "web") for i in range(40)]
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows.append((100, dup, "en", "web"))
    rows.append((101, dup + " iota", "en", "web"))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text"))
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    capped = {
        (r["doc_a"], r["doc_b"])
        for r in q_llm_near_dedup(spark, str(tmp_path), bucket_cap=8).collect()
    }
    assert capped == {(100, 101)}

    # uncapped (default 4096): the boilerplate clique IS reported —
    # proving the cap, not the LSH, is what dropped it above
    full = {
        (r["doc_a"], r["doc_b"])
        for r in q_llm_near_dedup(spark, str(tmp_path)).collect()
    }
    assert (100, 101) in full
    assert len(full) == 40 * 39 // 2 + 1


def test_short_documents_pass_the_shingle_guard_unchanged(spark, tmp_path):
    """q_llm_ngram_jaccard and q_llm_decontaminate read their shingle
    sets through ``shingle_sets``, whose ≥3-token guard drops 1- and
    2-token documents (the empty text is one token). Such a document
    has no shingle, so on a corpus planted with them both queries must
    return exactly the rows of their unguarded DuckDB spelling: a
    benchmark doc (doc_id % 50 == 0) of two tokens, short training
    docs, a 0.6-Jaccard boundary pair and an exact duplicate."""
    import duckdb

    from micmac_li3ds_spark.registry import all_oracles
    from micmac_li3ds_spark.operators.llm_text import (
        q_llm_decontaminate,
        q_llm_ngram_jaccard,
    )

    texts = {
        0: "alpha beta gamma delta epsilon",
        1: "alpha beta gamma delta zeta",
        2: "alpha",
        3: "alpha beta",
        4: "",
        5: "alpha beta gamma delta epsilon",
        6: "beta gamma",
        50: "alpha beta",
        51: "one two three four five six",
        52: "one two three four five seven",
        53: "two three",
        100: "one two three four",
    }
    spark.createDataFrame(
        [(i, t, "en", "web") for i, t in texts.items()],
        "doc_id long, text string, lang string, source string",
    ).withColumn("n_chars", F.length("text")).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    duck = duckdb.connect()
    duck.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )

    def rows(records):
        return sorted(
            tuple(round(v, 6) if isinstance(v, float) else v for v in r)
            for r in records
        )

    for name, query in (
        ("q_llm_ngram_jaccard", q_llm_ngram_jaccard),
        ("q_llm_decontaminate", q_llm_decontaminate),
    ):
        got = rows(query(spark, str(tmp_path)).collect())
        assert got, f"{name}: the planted corpus must yield rows"
        assert got == rows(duck.execute(all_oracles()[name]).fetchall()), name


def test_corpus_band_buckets_far_below_cap(spark):
    """Corpus contract behind q_llm_near_dedup's oracle parity at the
    driver-checked scale (sf0.01): the largest LSH band bucket must sit
    far below the default bucket_cap=4096, so capping cannot change the
    checked result. Measured on the real banded assignment, not a
    proxy."""
    from micmac_li3ds_spark.operators.llm_text import (
        minhash_band_keys,
        shingle_sets,
    )
    from micmac_li3ds_spark.tables import load

    d = shingle_sets(load(spark, "/root/testdata/sf0.01", "documents"))
    max_bucket = (
        minhash_band_keys(d)
        .groupBy("band_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    assert max_bucket < 4096 // 8, f"largest band bucket {max_bucket}"


def test_corpus_shingle_df_far_below_cap(duck):
    """Corpus contract behind q_llm_ngram_jaccard's oracle parity
    (ADVICE r2): its df_cap=256 silently drops pairs whose shared
    shingles are all hotter than the cap, so parity at the checked scale
    requires no shingle's document frequency to approach the cap. The
    documents view is sf0.001 here; scale headroom asserted 8×."""
    from micmac_li3ds_spark.functions.text import DUCK_SHINGLES_CTE

    max_df = duck.execute(
        f"""
WITH {DUCK_SHINGLES_CTE},
posting AS (SELECT unnest(s) AS sg, doc_id FROM sh)
SELECT max(df) FROM (SELECT COUNT(DISTINCT doc_id) AS df FROM posting GROUP BY sg)
"""
    ).fetchone()[0]
    assert max_df < 256 // 8, f"hottest shingle df={max_df}"


def test_embed_dedup_planes_and_bands_scale_knobs(spark):
    """The two sign-LSH scale parameters must behave as SCALE.md claims:
    (a) more planes → strictly more buckets → smaller candidate-pair
    count (in-bucket pairing is quadratic, this is THE 100 TB knob);
    (b) multiple bands recover recall: every strong pair (cos >= 0.9)
    found by the oracle-checked (6,1) configuration is also found by a
    (12,4) run, with candidate volume still below the single-band
    6-plane count."""
    from micmac_li3ds_spark.operators.llm_vector import (
        _emb,
        q_llm_embed_dedup,
        sign_buckets,
    )

    sf = "/root/testdata/sf0.001"
    e = _emb(spark, sf)

    def n_candidates(n_planes, n_bands):
        sizes = (
            sign_buckets(e, n_planes=n_planes, n_bands=n_bands)
            .groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return sizes.agg(F.sum(F.col("n") * (F.col("n") - 1) / 2)).first()[0]

    c6 = n_candidates(6, 1)
    c12 = n_candidates(12, 1)
    assert c12 < c6 / 4, f"12 planes should cut candidates ≥4x: {c12} vs {c6}"

    base_strong = {
        (r["id_a"], r["id_b"])
        for r in q_llm_embed_dedup(spark, sf).collect()
        if r["cos_sim"] >= 0.9
    }
    multi = {
        (r["id_a"], r["id_b"])
        for r in q_llm_embed_dedup(spark, sf, n_planes=12, n_bands=4).collect()
    }
    assert base_strong <= multi, f"multi-band lost strong pairs: {base_strong - multi}"
    assert n_candidates(12, 4) < c6


def test_hll_sketch_union_is_partition_path_independent(spark, sf_dir):
    """The mergeability contract q_agg_sketch_rollup sells: union-
    merging HLL partials must give the IDENTICAL estimate whatever
    grid the partials were built on (month vs day vs an arbitrary
    user_id%7 split) — register-max union is commutative/associative,
    so the rollup lattice can be re-cut freely without re-scanning raw
    data. Exact equality, not a band: path independence is algebraic,
    only the estimate-vs-truth gap is statistical."""
    from micmac_li3ds_spark.tables import load

    ev = load(spark, sf_dir, "events")

    def est(part_col):
        p = ev.groupBy("event_type", part_col.alias("g")).agg(
            F.hll_sketch_agg("user_id").alias("sk")
        )
        return {
            r["event_type"]: r["e"]
            for r in p.groupBy("event_type")
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
            .collect()
        }

    by_month = est(F.date_trunc("month", F.col("ts")))
    by_day = est(F.date_trunc("day", F.col("ts")))
    by_hash = est(F.col("user_id") % 7)
    assert by_month == by_day == by_hash
    assert by_month  # non-vacuous


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(st.integers(min_value=0, max_value=10_000), min_size=40, max_size=120)
)
def test_lttb_spark_matches_bruteforce_reference(spark, vals):
    """The SHIPPED grouped-pandas LTTB kernel (mining.make_lttb_kernel,
    the exact closure q_ts_downsample_lttb hands to applyInPandas), run
    through Spark, must equal an independently written reference on
    arbitrary series — guarding the bucket-split and argmax-tiebreak
    algebra the corpus alone can't stress (ties, flat segments,
    spikes at bucket borders)."""
    from micmac_li3ds_spark.operators.mining import make_lttb_kernel

    lttb_kernel = make_lttb_kernel()

    n = len(vals)
    ts = [3600 * i for i in range(n)]

    # reference: textbook LTTB with EXACT rational centroids
    # (fractions.Fraction) — a genuinely different code path and
    # formula from the kernel's count-scaled integer cross product:
    # area = |(a−c) × (p−a)| with c the true centroid (the kernel's
    # A' equals cn·area). Equal mathematically, so picks and ties
    # must coincide; a bucket-split or algebra bug in the kernel
    # cannot reproduce here by construction.
    def ref():
        from fractions import Fraction

        n_int = n - 2

        # bucket edges via rational floor, not the kernel's integer
        # division: bucket j holds interior idx0 with
        # floor(idx0·18/n_int) = j−1
        def bucket_of(idx0):
            return int(Fraction(idx0 * 18, n_int)) + 1

        buckets = {}
        for idx0 in range(n_int):
            buckets.setdefault(bucket_of(idx0), []).append(idx0 + 1)
        picks = [(0, ts[0], vals[0])]
        ax, ay = ts[0], vals[0]
        for j in range(1, 19):
            if j < 18:
                nxt = buckets[j + 1]
                cx = Fraction(sum(ts[i] for i in nxt), len(nxt))
                cy = Fraction(sum(vals[i] for i in nxt), len(nxt))
            else:
                cx, cy = Fraction(ts[-1]), Fraction(vals[-1])
            best_i, best_area = None, None
            for i in buckets[j]:
                area = abs(
                    (ax - cx) * (vals[i] - ay) - (ax - ts[i]) * (cy - ay)
                )
                if (
                    best_area is None
                    or area > best_area
                    or (area == best_area and ts[i] < ts[best_i])
                ):
                    best_i, best_area = i, area
            ax, ay = ts[best_i], vals[best_i]
            picks.append((j, ax, ay))
        picks.append((19, ts[-1], vals[-1]))
        return picks

    df = spark.createDataFrame(
        [("s", t, v) for t, v in zip(ts, vals)],
        "event_type string, t long, v long",
    )
    got = sorted(
        (r["pick_k"], r["t"], r["v"])
        for r in df.groupBy("event_type")
        .applyInPandas(
            lttb_kernel, "event_type string, pick_k int, t long, v long"
        )
        .collect()
    )
    assert got == ref()
