"""M5 embedding/similarity operators (SURVEY.md §2.11).

Similarity is pure column algebra (zip_with dot products inside
whole-stage codegen). The brute-force paths broadcast the query side —
the fact side never shuffles. The scale path for unknown-query ANN is
the IVF pattern: cluster-assign once, equi-join probe buckets — never a
fact×fact cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from micmac_li3ds_spark.functions.vector import (
    DUCK_VEC,
    as_double,
    cosine,
    dot,
    l2_norm,
    l2_normalize,
)
from micmac_li3ds_spark.operators.llm_text import (
    BUCKET_CAP,
    lsh_candidate_pairs,
    verify_pairs,
)
from micmac_li3ds_spark.registry import register
from micmac_li3ds_spark.tables import load


def _emb(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return e.select("vec_id", "label", as_double("embedding").alias("v"))


@register(
    "q_llm_cosine",
    oracle=f"""
WITH e AS (SELECT vec_id, {DUCK_VEC} AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
FROM e a JOIN e b ON b.vec_id = a.vec_id + 250
""",
    tags=("llm", "vector"),
)
def q_llm_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity over an explicit pairing (offset join —
    the pairing key is arbitrary; the operator under test is the
    zip_with/aggregate dot-product algebra)."""
    e = _emb(spark, sf_dir)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 250)
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
        )
    )


_KNN_ORACLE = f"""
WITH e AS (SELECT vec_id, label, {DUCK_VEC} AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT e.vec_id, round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
FROM e, q
WHERE e.vec_id <> 0
ORDER BY cos_sim DESC, e.vec_id
LIMIT 10
"""


@register("q_llm_knn", oracle=_KNN_ORACLE, tags=("llm", "vector", "knn"))
def q_llm_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k cosine search: broadcast the query vector,
    score every row map-side, TakeOrderedAndProject for the top-k — the
    exact-search baseline. Scales linearly; no shuffle of the corpus."""
    e = _emb(spark, sf_dir)
    q = F.broadcast(e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv")))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


@register(
    "q_llm_knn_per_label",
    oracle=f"""
WITH e AS (SELECT vec_id, label, {DUCK_VEC} AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.label,
         round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
  FROM e, q WHERE e.vec_id <> 0
),
ranked AS (
  SELECT vec_id, label, cos_sim,
         row_number() OVER (PARTITION BY label ORDER BY cos_sim DESC, vec_id) AS rn
  FROM scored
)
SELECT vec_id, label, cos_sim, rn FROM ranked WHERE rn <= 3
""",
    tags=("llm", "vector", "knn"),
)
def q_llm_knn_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped k-NN: top-3 most-similar per label (scored map-side, one
    window shuffle on label)."""
    e = _emb(spark, sf_dir)
    q = F.broadcast(e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv")))
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


@register(
    "q_llm_embed_norm",
    oracle=f"""
WITH e AS (SELECT vec_id, {DUCK_VEC} AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
SELECT vec_id,
       round(nrm, 6) AS l2,
       array_to_string(
         list_transform(v, x -> CAST(CAST(round(x / nrm * 1000000) AS BIGINT) AS VARCHAR)),
         ',') AS unit_vec_ppm
FROM n
""",
    tags=("llm", "vector"),
)
def q_llm_embed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization: emit the norm and the unit vector. Narrow
    map-only transform. The unit vector is serialized as comma-joined
    integer parts-per-million (explicit round() on both sides — DuckDB
    CAST rounds while Spark cast truncates): double→string formatting
    differs across engines (E-notation thresholds) and the driver
    canonicalizer cannot hash list cells, so quantized-int text is the
    only stable cross-engine encoding."""
    e = _emb(spark, sf_dir)
    return e.select(
        "vec_id",
        F.round(l2_norm(F.col("v")), 6).alias("l2"),
        F.array_join(
            F.transform(
                l2_normalize(F.col("v")),
                lambda x: F.round(x * 1000000).cast("long").cast("string"),
            ),
            ",",
        ).alias("unit_vec_ppm"),
    )


def _hyperplanes(n_planes: int = 6, dim: int = 64, seed: int = 1234) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH, via a fixed LCG so
    the exact same literals are embedded in the Spark plan and the DuckDB
    oracle SQL (no RNG state to ship)."""
    x = seed
    planes = []
    for _ in range(n_planes):
        p = []
        for _ in range(dim):
            x = (1103515245 * x + 12345) % (1 << 31)
            p.append(round(x / float(1 << 31) * 2.0 - 1.0, 4))
        planes.append(p)
    return planes


_PLANES = _hyperplanes()


def _embed_dedup_oracle() -> str:
    bits = " + ".join(
        f"{1 << j} * (CASE WHEN list_dot_product(v, {p!r}) >= 0 THEN 1 ELSE 0 END)"
        for j, p in enumerate(_PLANES)
    )
    return f"""
WITH e AS (SELECT vec_id, {DUCK_VEC} AS v FROM embeddings),
b AS (SELECT vec_id, v, {bits} AS bucket FROM e)
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       round(list_cosine_similarity(a.v, c.v), 6) AS cos_sim
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE round(list_cosine_similarity(a.v, c.v), 6) >= 0.15
"""


def _band_seed(band: int) -> int:
    """Seed for band b's hyperplane set; band 0 reproduces _PLANES."""
    return 1234 + 7919 * band


def sign_buckets(e: DataFrame, n_planes: int = 6, n_bands: int = 1) -> DataFrame:
    """(vec_id, v, band, bucket) sign-LSH assignment: ``n_bands``
    independent sets of ``n_planes`` hyperplanes, one bucket id per band.
    Narrow map-only column algebra (n_bands·n_planes dot products inside
    codegen) — the scale knobs for 100 TB: more planes → 2^n_planes
    buckets → smaller in-bucket candidate sets (in-bucket pairing is
    quadratic, so planes must grow ~log₂ of corpus size); more bands →
    independent chances to catch a near-pair whose signs straddle one
    band's planes (recall 1-(1-p)^b)."""
    band_structs = []
    for band in range(n_bands):
        planes = (
            _PLANES
            if (band == 0 and n_planes == 6)
            else _hyperplanes(n_planes, seed=_band_seed(band))
        )
        bucket = None
        for j, p in enumerate(planes):
            plane = F.array(*[F.lit(x) for x in p])
            bit = F.when(dot(F.col("v"), plane) >= 0, F.lit(1 << j)).otherwise(
                F.lit(0)
            )
            bucket = bit if bucket is None else bucket + bit
        band_structs.append(
            F.struct(F.lit(band).alias("band"), bucket.alias("bucket"))
        )
    return e.select(
        "vec_id", "v", F.explode(F.array(*band_structs)).alias("bb")
    ).select("vec_id", "v", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


@register(
    "q_llm_embed_dedup",
    oracle=_embed_dedup_oracle(),
    tags=("llm", "vector", "dedup"),
)
def q_llm_embed_dedup(
    spark: SparkSession, sf_dir: str, n_planes: int = 6, n_bands: int = 1
) -> DataFrame:
    """Embedding-cosine near-duplicate detection — the vector-space member
    of the dedup family (SURVEY.md §2.11): sign-LSH (random-hyperplane)
    bucketing → candidate pairs by equi-join on (band, bucket) → cosine
    verify on candidates only.

    100 TB shape: the signature is a narrow map-only pass; candidates
    come from a bucket equi-join — never an all-pairs cross join. The
    two scale parameters (see ``sign_buckets``): ``n_planes`` must grow
    ~log₂ of corpus size so in-bucket pairing stays sub-quadratic
    (SCALE.md §4 gives the sizing rule), ``n_bands`` buys recall back.
    The registered configuration stays (6, 1) because the oracle must
    reproduce the buckets bit-for-bit; the parameterization is
    property-tested in tests/test_properties.py (candidate counts
    shrink with planes, strong pairs survive a multi-band run)."""
    e = _emb(spark, sf_dir)
    # The bucket self-join shuffles ONLY (vec_id, band, bucket) ("shuffle
    # keys and metadata instead of payloads"): carrying both 64-double
    # vectors through both sides of the exchange just to hand them to
    # the verify widens every shuffled candidate row, while attaching
    # them after pairing costs two equi-joins against the far smaller
    # embedding table. Same pairs, same cosine values.
    b = sign_buckets(e, n_planes=n_planes, n_bands=n_bands).select(
        "vec_id", "band", "bucket"
    )
    a = b.select(F.col("vec_id").alias("doc_a"), "band", "bucket")
    c = b.select(F.col("vec_id").alias("doc_b"), "band", "bucket")
    ids = (
        a.join(c, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    if n_bands > 1:
        # a pair can collide in several bands; dedup ids only (cheap)
        ids = ids.distinct()
    pairs = verify_pairs(ids, e.select("vec_id", "v"), 0.15, cos_sim=cosine)
    return pairs.withColumnsRenamed({"doc_a": "id_a", "doc_b": "id_b"})


@register(
    "q_llm_knn_ivf",
    oracle=f"""
WITH e AS (SELECT vec_id, label, {DUCK_VEC} AS v FROM embeddings),
comp AS (
  SELECT label, t.i AS i, AVG(v[t.i]) AS m
  FROM e, range(1, 65) t(i) GROUP BY label, t.i
),
cent AS (SELECT label, list(m ORDER BY i) AS cv FROM comp GROUP BY label),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
probe AS (
  SELECT label FROM cent, q
  ORDER BY round(list_cosine_similarity(cv, qv), 6) DESC, label
  LIMIT 3
)
SELECT e.vec_id, e.label,
       round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
FROM e JOIN probe USING (label), q
WHERE e.vec_id <> 0
ORDER BY cos_sim DESC, vec_id
LIMIT 10
""",
    tags=("llm", "vector", "knn", "ann"),
)
def q_llm_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate nearest neighbor — the 100 TB search path.

    Train: per-label centroid (mean vector) — one aggregation.
    Probe: rank centroids by similarity to the query, keep the best 3
    cells, then brute-force only inside those cells (equi-join on
    label — partition-prunable at scale).

    Approximate relative to exact knn (recall < 1 when true neighbors
    live in unprobed cells) — but the ALGORITHM is deterministic, so
    the oracle replicates it end-to-end (same centroids, same probe
    ranking, same in-cell scan) and the check is full value parity.
    Probe ranking rounds similarities to 6 dp with a label tiebreak so
    sub-ulp mean/cosine differences between engines cannot flip which
    cells are probed; the exact baseline q_llm_knn is the quality twin.
    """
    e = _emb(spark, sf_dir)
    dims = 64
    # centroids: elementwise mean via posexplode + groupBy(label, pos)
    cent = (
        e.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("label", F.transform("pm", lambda s: s["m"]).alias("cv"))
    )
    q = F.broadcast(e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv")))
    probe = F.broadcast(
        cent.crossJoin(q)
        .select(
            "label", F.round(cosine(F.col("cv"), F.col("qv")), 6).alias("csim")
        )
        .orderBy(F.col("csim").desc(), F.col("label"))
        .limit(3)
        .select("label")
    )
    assert dims == 64  # corpus contract (FIXTURES.md)
    return (
        e.join(probe, "label")  # partition pruning: only probed cells scanned
        .filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


@register(
    "q_llm_embed_quant",
    oracle=f"""
WITH e AS (SELECT vec_id, {DUCK_VEC} AS v FROM embeddings),
mm AS (
  SELECT vec_id, v,
         list_min(v) AS mn,
         CASE WHEN list_max(v) > list_min(v)
              THEN (list_max(v) - list_min(v)) / 255.0 ELSE 1.0 END AS scale
  FROM e
)
SELECT vec_id,
       round(mn, 6) AS qmin,
       round(scale, 9) AS qscale,
       array_to_string(
         list_transform(v, x -> CAST(CAST(round((x - mn) / scale) AS INTEGER)
                                     AS VARCHAR)), ',') AS codes
FROM mm
""",
    tags=("llm", "vector", "quant"),
)
def q_llm_embed_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Affine int8 quantization per embedding (min/max calibration, 256
    levels): emit the dequantization params (min, scale) and the code
    vector. This is the storage-side op of a vector index — 4×
    compression before any ANN structure. Narrow map-only column
    algebra, no shuffle, no UDF; constant vectors get scale=1 so the
    division is total. Codes serialize as csv text (driver canonicalizer
    cannot hash list cells); both engines round identically because
    (x-mn)/scale is non-negative, where half-up equals half-away."""
    e = _emb(spark, sf_dir)
    mn = F.array_min("v")
    mx = F.array_max("v")
    scale = F.when(mx > mn, (mx - mn) / F.lit(255.0)).otherwise(F.lit(1.0))
    q = e.select(
        "vec_id", "v", mn.alias("mn"), scale.alias("scale")
    )
    codes = F.array_join(
        F.transform(
            F.col("v"),
            lambda x: F.round((x - F.col("mn")) / F.col("scale"))
            .cast("int")
            .cast("string"),
        ),
        ",",
    )
    return q.select(
        "vec_id",
        F.round("mn", 6).alias("qmin"),
        F.round("scale", 9).alias("qscale"),
        codes.alias("codes"),
    )


_N_CENTROIDS = 8


#: packing multiplier for the argmin ordering key: centroid ids must lie
#: in [0, _ARGMIN_CID_MULT) and round(dist·1e6) below 2^63/_ARGMIN_CID_MULT
#: (dist < ~7.0e7 — embedding L2 distances are O(√dim), nowhere near it).
#: 2^17 leaves room for k up to 131 072 centroids, the top of the range a
#: real SemDeDup/IVF deployment partitions into.
_ARGMIN_CID_MULT = 131072


def nearest_centroid_assign(
    e: DataFrame,
    c: DataFrame,
    extra_cols=(),
    n_centroids: int | None = None,
    int_dist: F.Column | None = None,
) -> DataFrame:
    """Shared nearest-centroid argmin (q_llm_cluster_assign,
    q_llm_semantic_dedup): broadcast the centroid set ``c`` (cid, cv),
    score every vector of ``e`` (vec_id, v, *extra_cols) against all k
    map-side, and keep the argmin via ``min(okey)`` over ONE packed
    BIGINT ordering key ``round(dist·1e6)·2^17 + cid`` — monotone in
    (dist, cid) because dist is already rounded to 6dp (so dist·1e6 is
    integral) and cid < 2^17. Partial aggregation collapses the k scored
    rows of each vector to one BEFORE the exchange (all k live in the
    same partition after the broadcast join), so the shuffle carries n
    rows, not n·k, and the plan has no WindowExec.

    Why packed instead of ``min_by(cid, struct(dist, cid))``: a struct
    ordering buffer is an immutable aggregation-buffer type, which
    forces SortAggregate — two extra per-partition sorts and no
    whole-stage codegen (measured 10× slower end-to-end at sf0.1).
    Atomic BIGINT/DOUBLE mins keep the aggregate in HashAggregate
    inside one codegen span (pinned by
    tests/test_plans.py::test_cluster_assign_mapside_argmin). The
    emitted ``dist`` is ``min(dist)`` directly — the winner minimizes
    (dist, cid), so its dist IS the minimum — no decode round-trip,
    bit-identical to the pre-pack spelling. Ties break by centroid id,
    the exact tiebreak the DuckDB oracles replay with row_number()
    ORDER BY dist, cid.

    ``int_dist`` switches the distance to a caller-supplied EXACT
    integral expression over the joined row (e.g. the quantized squared
    L2 of the integer Lloyd recurrence, kmeans_fixpoint): the packed
    key becomes ``int_dist·2^17 + cid`` with no 1e-6 scaling, and the
    emitted ``dist`` is the integer minimum. Caller contract: the value
    is a nonnegative ``long`` below 2^63/_ARGMIN_CID_MULT (~7.0e13 —
    the 1e-4-quantized 64-dim corpus tops out near 1e11), so the pack
    cannot overflow and ordering by the packed key IS lexicographic
    (int_dist, cid).

    Callers that know their centroid count pass ``n_centroids`` so the
    packing precondition (cid < _ARGMIN_CID_MULT) is VALIDATED rather
    than assumed — a cid at or above the multiplier would silently
    bleed into the distance bits and mis-rank (the q_agg_heavy_hitters
    invariant-guard discipline, ADVICE r9). The count check alone
    cannot see sparse/offset cid VALUES (ADVICE r10), so the packing
    also carries a distributed guard: any cid outside
    [0, _ARGMIN_CID_MULT) raises at execution time via a conditional
    ``raise_error`` folded into the ordering-key projection — zero
    extra jobs, no driver-side pass over ``c``.

    Returns (vec_id, *extra_cols, centroid_id, dist). RETURN CONTRACT
    for ``dist`` (ADVICE r11): its type AND meaning follow the path —
    default path: DOUBLE, the euclidean distance rounded to 6dp;
    ``int_dist`` path: the caller's expression type (LONG for both
    current callers), the raw integer minimum of the caller's exact
    distance channel, NOT a euclidean value. Callers that union or
    compare results across the two paths must cast/rename explicitly
    at the call site — the divergence is deliberate (an exact-integer
    channel must not round-trip through DOUBLE), pinned by
    tests/test_round12_ops.py::test_nearest_centroid_assign_dist_contract."""
    if n_centroids is not None and n_centroids > _ARGMIN_CID_MULT:
        raise ValueError(
            f"nearest_centroid_assign: n_centroids={n_centroids} exceeds "
            f"the packed ordering key's cid capacity {_ARGMIN_CID_MULT}; "
            "raise _ARGMIN_CID_MULT (and re-check the dist headroom: "
            "round(dist*1e6) must stay below 2^63/_ARGMIN_CID_MULT)"
        )
    if int_dist is None:
        dist = F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with("v", "cv", lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            6,
        )
        dist_long = F.round(F.col("dist") * F.lit(1e6)).cast("long")
    else:
        dist = int_dist
        dist_long = F.col("dist")
    okey = F.when(
        (F.col("cid") < 0) | (F.col("cid") >= _ARGMIN_CID_MULT),
        F.raise_error(
            F.concat(
                F.lit("nearest_centroid_assign: cid "),
                F.col("cid").cast("string"),
                F.lit(
                    f" outside [0, {_ARGMIN_CID_MULT}) would bleed into "
                    "the packed ordering key's distance bits"
                ),
            )
        ),
    ).otherwise(dist_long * F.lit(_ARGMIN_CID_MULT) + F.col("cid"))
    scored = (
        e.crossJoin(F.broadcast(c))
        .withColumn("dist", dist)
        .withColumn("okey", okey)
    )
    return (
        scored.groupBy("vec_id", *extra_cols)
        .agg(F.min("okey").alias("okey"), F.min("dist").alias("dist"))
        .select(
            "vec_id",
            *extra_cols,
            (F.col("okey") % _ARGMIN_CID_MULT).alias("centroid_id"),
            "dist",
        )
    )


@register(
    "q_llm_cluster_assign",
    oracle=f"""
WITH e AS (SELECT vec_id, label, {DUCK_VEC} AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_N_CENTROIDS}),
d AS (
  SELECT e.vec_id, e.label, c.cid,
         round(list_distance(e.v, c.cv), 6) AS dist
  FROM e CROSS JOIN c
)
SELECT vec_id, label, cid AS centroid_id, dist
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cid) AS rk FROM d)
WHERE rk = 1
""",
    tags=("llm", "vector", "ann"),
)
def q_llm_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment — the partition step of IVF/k-means:
    broadcast the (tiny) centroid set, score every vector against all k
    map-side, keep the argmin via ``min`` over one packed BIGINT
    ordering key (see nearest_centroid_assign for the encoding and why
    it beats min_by-over-struct: HashAggregate + whole-stage codegen
    instead of a SortAggregate fallback). The corpus never shuffles for
    the scoring (broadcast nested loop over k=8 centroids), and because
    all k scored rows of a vector live in the SAME input partition
    after the broadcast join, the partial (map-side) aggregation
    collapses them k→1 BEFORE the exchange — the shuffle carries n
    rows, not n·k, and no WindowExec appears in the plan (both pinned
    by tests/test_plans.py). Rewritten round 10 from a
    Window.partitionBy(vec_id) row_number, which shuffled all n·k
    scored rows into a per-vector sort (r9 verdict item 2). Centroids
    are the first k vectors (deterministic, shared with the oracle); a
    production k-means would iterate this exact plan. Distances round
    to 6 before ranking (ties broken by centroid id via the packed
    key's low bits) so both engines pick identical winners."""
    e = _emb(spark, sf_dir)
    c = (
        e.filter(F.col("vec_id") < _N_CENTROIDS)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    return nearest_centroid_assign(
        e, c, ("label",), n_centroids=_N_CENTROIDS
    ).select("vec_id", "label", "centroid_id", "dist")


@register(
    "q_llm_semantic_dedup",
    oracle=f"""
WITH RECURSIVE e AS (SELECT vec_id, {DUCK_VEC} AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_N_CENTROIDS}),
d AS (
  SELECT e.vec_id, c.cid, round(list_distance(e.v, c.cv), 6) AS dist, e.v
  FROM e CROSS JOIN c
),
asg AS (
  SELECT vec_id, cid, v
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cid) AS rk FROM d)
  WHERE rk = 1
),
pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.42
),
edges AS (
  SELECT ia AS a, ib AS b FROM pairs
  UNION ALL
  SELECT ib AS a, ia AS b FROM pairs
),
prop AS (
  SELECT a AS nm, LEAST(a, MIN(b)) AS comp FROM edges GROUP BY a
  UNION
  SELECT e2.a AS nm, MIN(l.comp) AS comp
  FROM prop l JOIN edges e2 ON e2.b = l.nm
  GROUP BY e2.a
),
lab AS (SELECT nm, MIN(comp) AS comp FROM prop GROUP BY nm)
SELECT e.vec_id, COALESCE(lab.comp, e.vec_id) AS keeper,
       (COALESCE(lab.comp, e.vec_id) = e.vec_id) AS is_kept
FROM e LEFT JOIN lab ON lab.nm = e.vec_id
""",
    tags=("llm", "vector", "dedup", "iterative"),
)
def q_llm_semantic_dedup(
    spark: SparkSession, sf_dir: str, tau: float = 0.42, cluster_cap: int = BUCKET_CAP
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023):
    k-means-partition the embedding space, generate candidate pairs
    ONLY within each cluster, keep pairs with cosine ≥ τ, collapse
    them into connected components, and emit every vector with its
    component's minimum-id KEEPER (is_kept marks the survivors a
    curation pipeline would retain).

    This is the third member of the near-dup candidate-generation
    family, and the one production corpus curation actually ships for
    embeddings: sign-LSH buckets (q_llm_embed_dedup) hash by random
    hyperplanes; MinHash bands (q_llm_near_dedup) hash lexical
    shingles; SemDeDup scopes candidates by LEARNED density — cluster
    membership — which at 100 TB is the only one of the three whose
    bucket boundaries adapt to where the corpus actually concentrates.

    Scale shape, piece by piece, all previously argued: nearest-
    centroid assignment is a broadcast map-side scan over k centroids
    with a map-side packed-key min argmin — the exchange carries n
    assignment rows, not n·k scored rows, and no WindowExec in the plan
    (q_llm_cluster_assign's plan); in-cluster pair expansion reuses
    lsh_candidate_pairs — ONE groupBy(cluster), pairs expanded inside
    the sorted id array, clusters over ``cluster_cap`` dropped (the
    bucket_cap / copurchase group_cap discipline — a mega-cluster is
    exactly where you'd RE-cluster with larger k instead of pairing);
    cosine verify (``verify_pairs``) touches candidates only;
    components run on cc_fixpoint's O(log d) pointer-jumping rounds and
    become keepers in ``semantic_keepers``. The oracle mirrors
    each stage (row_number assignment with the round-6dp/centroid-id
    tiebreak, brute-force in-cluster pairs, min-label recursive GROUP
    BY propagation) — full value-hash parity including singleton
    keepers."""
    e = _emb(spark, sf_dir)
    c = e.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    asg = nearest_centroid_assign(e, c, n_centroids=_N_CENTROIDS).select(
        F.col("centroid_id").cast("string").alias("band_key"),
        F.col("vec_id").alias("doc_id"),
    )
    # in-cluster candidates: the shared capped in-array expansion
    pairs = lsh_candidate_pairs(asg, bucket_cap=cluster_cap)
    edges = verify_pairs(pairs, e.select("vec_id", "v"), tau, cos=cosine)
    return semantic_keepers(e.select("vec_id"), edges)


def semantic_keepers(vec_ids: DataFrame, pairs: DataFrame) -> DataFrame:
    """(vec_id, keeper, is_kept) for every id of ``vec_ids``: the
    minimum id of its connected component in the (doc_a, doc_b) pair
    list, or itself when it is in no pair. Shared by
    q_llm_semantic_dedup and the streaming SemDeDup snapshot."""
    from micmac_li3ds_spark.operators.analytics import cc_fixpoint

    lbl, _rounds = cc_fixpoint(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    )
    keeper = F.coalesce(F.col("lbl"), F.col("vec_id"))
    return vec_ids.join(lbl, vec_ids["vec_id"] == lbl["node"], "left").select(
        "vec_id", keeper.alias("keeper"), (keeper == F.col("vec_id")).alias("is_kept")
    )


@register(
    "q_llm_kmeans_step",
    oracle=f"""
WITH e AS (SELECT vec_id, {DUCK_VEC} AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_N_CENTROIDS}),
d AS (
  SELECT e.vec_id, e.v, c.cid,
         round(list_distance(e.v, c.cv), 6) AS dist
  FROM e CROSS JOIN c
),
assigned AS (
  SELECT vec_id, v, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cid) AS rk FROM d)
  WHERE rk = 1
),
dims AS (
  SELECT cid, t.i AS i, v[t.i] AS x
  FROM assigned, range(1, 65) t(i)
),
comp AS (
  SELECT cid, i, CAST(round(AVG(x) * 10000) AS BIGINT) AS q
  FROM dims GROUP BY cid, i
)
SELECT comp.cid AS centroid_id,
       m.n_members,
       array_to_string(list(CAST(q AS VARCHAR) ORDER BY i), ',') AS centroid_q
FROM comp
JOIN (SELECT cid, COUNT(*) AS n_members FROM assigned GROUP BY cid) m
  ON m.cid = comp.cid
GROUP BY comp.cid, m.n_members
""",
    tags=("llm", "vector", "ann"),
)
def q_llm_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd iteration, declaratively: assign every vector to
    its nearest centroid (broadcast scoring — q_llm_cluster_assign's
    shape), then recompute each centroid as the element-wise mean of
    its members. The mean is computed by exploding dimensions
    (posexplode → 64·N rows) and aggregating per (centroid, dim) — at
    scale this shuffles (k·64) keys of partial sums, never whole
    vectors, and map-side combine does almost all the work. A k-means
    driver loop is THIS query iterated with the previous output as the
    next centroid set. Centroids quantize to 1e-4 for the cross-engine
    comparison (mean-of-doubles summation order differs at ~1e-12).

    The assignment stage routes through nearest_centroid_assign
    (round 11, r10 verdict item 3), and since round 12 uses the
    ASSIGN-THEN-REJOIN spelling (r11 verdict item 4, measured — see
    SCALE.md §20): the argmin groupBy carries only vec_id (a LONG
    hash per scored row), then the narrow (vec_id, cid) assignment
    joins back to the embeddings with a shuffle-hash join on the
    unique key. The retired alternative rode the 64-double member
    vector through the groupBy as an extra grouping column — one
    fewer exchange but an UnsafeRow ARRAY hash/equality on every one
    of the n·k scored rows map-side; measured 1.11 s vs 0.91 s
    min-of-5 at sf0.1 (tools/measure_kmeans_width.py, both runs
    agreeing), and the per-scored-row hashing cost scales with n·k
    forever while the extra exchange moves ~the same total bytes
    (n·560 B across 3 narrow+wide exchanges vs n·536 B in 1 wide).
    The join side is hinted shuffle_hash: vec_id is unique (no skew),
    and at 100 TB the n-row assignment is nowhere near broadcastable,
    so the measured plan IS the at-scale plan. Still zero WindowExec
    and n (not n·k) rows per exchange (plan pinned by
    tests/test_plans.py::test_kmeans_pair_mapside_argmin; bit-exact
    equivalence vs the wide spelling asserted on every run of
    tools/measure_kmeans_width.py and vs the retired window spelling
    in test_round11_ops.py)."""
    e = _emb(spark, sf_dir)
    c = (
        e.filter(F.col("vec_id") < _N_CENTROIDS)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    narrow = nearest_centroid_assign(e, c, n_centroids=_N_CENTROIDS).select(
        "vec_id", F.col("centroid_id").alias("cid")
    )
    assigned = narrow.hint("shuffle_hash").join(
        e.select("vec_id", "v"), "vec_id"
    )
    dims = assigned.select("cid", F.posexplode("v").alias("i", "x"))
    comp = dims.groupBy("cid", "i").agg(
        F.round(F.avg("x") * 10000).cast("long").alias("q")
    )
    members = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    cent = comp.groupBy("cid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "q"))),
                lambda s: s.getField("q").cast("string"),
            ),
            ",",
        ).alias("centroid_q")
    )
    return (
        cent.join(members, "cid")
        .select(F.col("cid").alias("centroid_id"), "n_members", "centroid_q")
    )


@register(
    "q_llm_knn_batch",
    oracle=f"""
WITH e AS (SELECT vec_id, {DUCK_VEC} AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.qid, e.vec_id,
         round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
  FROM e CROSS JOIN q
  WHERE e.vec_id <> q.qid
)
SELECT qid, vec_id, cos_sim, rk
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos_sim DESC, vec_id) AS rk
      FROM scored)
WHERE rk <= 5
""",
    tags=("llm", "vector", "knn"),
)
def q_llm_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched retrieval: top-5 neighbors for a whole BATCH of query
    vectors in one corpus pass — the serving shape (per-query scans
    would read the corpus B times). The query batch broadcasts, every
    corpus vector scores against all B queries map-side, and the
    per-query top-k is a window partitioned by query id. At scale the
    corpus still never shuffles; the window state is B×k rows. Rounded
    similarity + vec_id tiebreak keep the cut identical across engines."""
    e = _emb(spark, sf_dir)
    q = F.broadcast(
        e.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), F.col("v").alias("qv")
        )
    )
    scored = (
        e.crossJoin(q)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("qid", "vec_id", "cos_sim", "rk")
    )


@register(
    "q_llm_hard_negatives",
    oracle=f"""
WITH e AS (SELECT vec_id, label, {DUCK_VEC} AS v FROM embeddings),
q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.qid, e.vec_id, e.label,
         round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
  FROM e CROSS JOIN q
  WHERE e.label <> q.qlabel
)
SELECT qid, vec_id, label, cos_sim, rk
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos_sim DESC, vec_id) AS rk
      FROM scored)
WHERE rk <= 3
""",
    tags=("llm", "vector", "training"),
)
def q_llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the most similar vectors with a DIFFERENT label — the examples a
    random-negative sampler would miss and a contrastive loss learns
    most from. Identical plan shape to batched knn (broadcast anchors,
    map-side scoring, per-anchor window) with the label-mismatch
    predicate applied before ranking, so the per-anchor state stays
    k rows."""
    e = _emb(spark, sf_dir)
    q = F.broadcast(
        e.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            F.col("v").alias("qv"),
        )
    )
    scored = (
        e.crossJoin(q)
        .filter(F.col("label") != F.col("qlabel"))
        .select(
            "qid",
            "vec_id",
            "label",
            F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("qid", "vec_id", "label", "cos_sim", "rk")
    )


def _pq_centroids(
    m_sub: int = 8, k: int = 16, sub_dim: int = 8, seed: int = 97
) -> list[list[list[int]]]:
    """Deterministic integer PQ codebook via the same fixed LCG as
    _hyperplanes: [subspace][centroid][dim] in [-2000, 2000], embedded
    as identical literals in the Spark plan and the oracle SQL. (A
    production codebook comes from k-means per subspace — q_llm_kmeans_
    step is that trainer; the encode path is codebook-agnostic.)"""
    x = seed
    out = []
    for _ in range(m_sub):
        ks = []
        for _ in range(k):
            c = []
            for _ in range(sub_dim):
                x = (1103515245 * x + 12345) % (1 << 31)
                c.append(int(x % 4001) - 2000)
            ks.append(c)
        out.append(ks)
    return out


_PQ_CODEBOOK = _pq_centroids()

# Shared oracle prefix: codebook VALUES + integer-quantized subvectors +
# per-(vector, subspace) squared distances to every centroid + the
# deterministic argmin (ORDER BY d, k).
_PQ_BASE_CTE = (
    "WITH cent(m, k, c) AS (VALUES\n    "
    + ",\n    ".join(
        f"({m}, {k}, {cent!r})"
        for m, ks in enumerate(_PQ_CODEBOOK)
        for k, cent in enumerate(ks)
    )
    + """
),
q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
           AS qv
  FROM embeddings
),
sub AS (
  SELECT vec_id, ms.m AS m, qv[ms.m * 8 + 1 : ms.m * 8 + 8] AS sv
  FROM q CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms
),
dist AS (
  SELECT s.vec_id, s.m, cent.k,
         list_sum(list_transform(range(1, 9),
                                 j -> (sv[j] - c[j]) * (sv[j] - c[j]))) AS d
  FROM sub s JOIN cent ON s.m = cent.m
),
best AS (
  SELECT vec_id, m, k,
         row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rk
  FROM dist
)"""
)


def _pq_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, qv): embeddings with coordinates quantized to integer
    thousandths — all downstream PQ math is exact integer arithmetic."""
    return load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000).cast("long"),
        ).alias("qv"),
    )


def _pq_subvectors(df: DataFrame) -> DataFrame:
    """(vec_id, m, sv): map-side fan-out of each vector into its 8
    subvectors (posexplode — narrow, no shuffle)."""
    return df.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda m: F.slice("qv", m * 8 + 1, 8),
            )
        ).alias("m", "sv"),
    )


def _pq_codebook_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [
            (m, k, c)
            for m, ks in enumerate(_PQ_CODEBOOK)
            for k, c in enumerate(ks)
        ],
        "m int, k int, c array<bigint>",
    )


def _pq_sq_dist() -> F.Column:
    """Σ (sv_j − c_j)² as exact long arithmetic (built lazily — Column
    construction needs an active session)."""
    return F.aggregate(
        F.zip_with("sv", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _pq_code_array() -> F.Column:
    """array<int> of the 8 nearest-centroid indices (k per subspace m,
    ascending m) for a quantized-vector column ``qv`` — the map-side
    rewrite of :func:`_pq_codes` (r19, guide §2.4 "remove shuffles
    outright"): the codebook is a COMPILE-TIME constant
    (8×16×8 longs ≈ 1 KB), so nearest-centroid per subspace needs no
    broadcast join and no groupBy at all — embed it as a literal array
    and take ``array_min`` over the same packed ``d·16 + k`` BIGINT
    _pq_codes minimized. Identical integers, identical tie-breaking
    (k breaks ties inside the monotone packing), zero expansion rows:
    the old shape fanned every vector into 8×16 = 128 scored rows
    through a BroadcastHashJoin and re-collapsed them in a two-phase
    HashAggregate; this is one projection inside whole-stage codegen.
    Overflow headroom unchanged (see _pq_codes)."""
    cb = F.array(
        *[
            F.array(*[F.array(*[F.lit(x) for x in c]) for c in ks])
            for ks in _PQ_CODEBOOK
        ]
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda m: (
            F.array_min(
                F.transform(
                    F.element_at(cb, m + 1),
                    lambda c, k: F.aggregate(
                        F.zip_with(
                            F.slice(F.col("qv"), m * 8 + 1, 8),
                            c,
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    )
                    * F.lit(16)
                    + k,
                )
            )
            % 16
        ).cast("int"),
    )


def _pq_codes(spark: SparkSession, sf_dir: str, subs: DataFrame) -> DataFrame:
    """(vec_id, m, d, k): nearest-centroid assignment per subspace — an
    associative MIN over ONE packed BIGINT ``d·16 + k``, partial-
    aggregable and deterministic under ties (k breaks them). Distances
    are exact longs (thousandths-quantized integer arithmetic) and
    k < 16, so the packing is monotone in (d, k) and decodes exactly —
    no float parity concern. Packed instead of min-over-struct(d, k)
    for the same reason as nearest_centroid_assign: a struct
    aggregation buffer forces SortAggregate (no whole-stage codegen +
    two per-partition sorts); the atomic key keeps the 256k scored rows
    (n·8 subspaces ·16 centroids at sf0.1) in HashAggregate inside one
    codegen span. Overflow headroom: d·16 < 2^63 needs d < 5.7e17;
    8-dim squared diffs of thousandths-scale coords are ≤ ~1e10."""
    cent = _pq_codebook_df(spark)
    return (
        subs.join(F.broadcast(cent), "m")
        .select(
            "vec_id",
            "m",
            (_pq_sq_dist() * F.lit(16) + F.col("k")).alias("dk"),
        )
        .groupBy("vec_id", "m")
        .agg(F.min("dk").alias("bk"))
        .select(
            "vec_id",
            "m",
            F.expr("bk div 16").alias("d"),
            (F.col("bk") % F.lit(16)).cast("int").alias("k"),
        )
    )


@register(
    "q_llm_pq_encode",
    oracle=f"""
{_PQ_BASE_CTE}
SELECT vec_id,
       string_agg(CAST(k AS VARCHAR), ',' ORDER BY m) AS pq_code
FROM best
WHERE rk = 1
GROUP BY vec_id
""",
    tags=("llm", "vector", "ann", "compression"),
)
def q_llm_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: each 64-dim embedding splits into
    8 subvectors; each subvector maps to its nearest of 16 codebook
    centroids; the vector compresses to 8 small codes (here a
    comma-joined string cell) — 64 floats → 8 nibbles, the 64×
    compression that makes billion-vector ANN serving fit in memory.
    Shape for 100 TB: subvector fan-out is a map-side posexplode, the
    codebook (128 rows) broadcasts, nearest-centroid is an associative
    MIN over (distance, k) structs — partial-aggregable, deterministic
    under distance ties — and code assembly re-groups by vec_id.
    Coordinates quantize to integer thousandths BEFORE the distance
    math, so both engines compare identical integers (no float
    association drift anywhere)."""
    # r19: one map-side projection (see _pq_code_array) — the previous
    # posexplode → broadcast join → two-phase groupBy(vec_id) collapsed
    # 128 scored rows per vector back into one; the code array is the
    # same k-per-subspace sequence (ascending m ≡ the old
    # array_sort(collect_list(struct(m, k)))), so the joined string is
    # byte-identical. Plan: zero joins; the only exchange is _spread's
    # scan-parallelism guard (no-op on a properly-chunked lake — see
    # _pq_adc_scored for the single-row-group measurement).
    from micmac_li3ds_spark.operators.llm_text import _spread

    return _spread(_pq_quantized(spark, sf_dir), spark).select(
        "vec_id",
        F.array_join(
            F.transform(_pq_code_array(), lambda k: k.cast("string")), ","
        ).alias("pq_code"),
    )


def _pq_adc_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, adc_d): exact-integer ADC score of every corpus vector
    against the query (vec 0) — shared by q_llm_knn_pq (top-10) and
    q_llm_knn_pq_refine (top-50 shortlist): subvector posexplode,
    broadcast-hash join of the query's 128-entry (m, k) → distance LUT,
    groupBy(vec_id) integer sum.

    r19 measured NO-OP on the alternative (documented so nobody retries
    it blind): a map-side rewrite — nearest-centroid codes from the
    literal-codebook projection (_pq_code_array) plus the LUT as one
    broadcast 128-slot array, zero joins and zero aggregates — produced
    ordered-identical results but ran 1.2-1.9× SLOWER at sf0.1 in every
    interleaved min-of-5 window (2.98 s old vs 4.26 s rewritten,
    best-case window 2.21 vs 2.61), even with a _spread guard: nested
    higher-order lambdas (transform→transform→aggregate over slices)
    are interpreted per element, while the join shape's fan-out runs
    inside whole-stage codegen and its groupBy shuffles only narrow
    (vec_id, partial-sum) rows. The join shape stays.
    """
    subs = _pq_subvectors(_pq_quantized(spark, sf_dir))
    codes = _pq_codes(spark, sf_dir, subs.filter(F.col("vec_id") != 0))
    qlut = (
        subs.filter(F.col("vec_id") == 0)
        .join(F.broadcast(_pq_codebook_df(spark)), "m")
        .select("m", "k", _pq_sq_dist().alias("qd"))
    )
    return (
        codes.join(F.broadcast(qlut), ["m", "k"])
        .groupBy("vec_id")
        .agg(F.sum("qd").cast("long").alias("adc_d"))
    )


@register(
    "q_llm_knn_pq",
    oracle=f"""
{_PQ_BASE_CTE},
codes AS (
  SELECT vec_id, m, k FROM best WHERE rk = 1 AND vec_id <> 0
),
qlut AS (
  SELECT s.m, cent.k,
         list_sum(list_transform(range(1, 9),
                                 j -> (sv[j] - c[j]) * (sv[j] - c[j]))) AS d
  FROM sub s JOIN cent ON s.m = cent.m
  WHERE s.vec_id = 0
),
scored AS (
  SELECT codes.vec_id, CAST(SUM(qlut.d) AS BIGINT) AS adc_d
  FROM codes JOIN qlut ON codes.m = qlut.m AND codes.k = qlut.k
  GROUP BY codes.vec_id
)
SELECT vec_id, adc_d FROM scored ORDER BY adc_d, vec_id LIMIT 10
""",
    tags=("llm", "vector", "ann", "knn"),
)
def q_llm_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN search with asymmetric distance computation
    (ADC): the corpus is its 8-code PQ representation; the query (vec 0)
    stays full precision and precomputes one 8×16 lookup table of
    query-subvector→centroid distances. Scoring a vector is then 8
    table lookups + a sum — never a 64-dim dot product — which is why
    PQ serves billion-vector search: per-vector cost is O(M) integer
    adds against an L1-resident LUT. Shape: the LUT (128 rows, built
    from the broadcast query) broadcasts into a map-side join against
    the codes, the per-vector sum is a partial-aggregable groupBy, and
    the top-10 finishes as TakeOrderedAndProject — the corpus never
    shuffles at full width. Integer math end-to-end: exact parity."""
    return _pq_adc_scored(spark, sf_dir).orderBy("adc_d", "vec_id").limit(10)


@register(
    "q_llm_knn_pq_refine",
    oracle=f"""
{_PQ_BASE_CTE},
codes AS (
  SELECT vec_id, m, k FROM best WHERE rk = 1 AND vec_id <> 0
),
qlut AS (
  SELECT s.m, cent.k,
         list_sum(list_transform(range(1, 9),
                                 j -> (sv[j] - c[j]) * (sv[j] - c[j]))) AS d
  FROM sub s JOIN cent ON s.m = cent.m
  WHERE s.vec_id = 0
),
shortlist AS (
  SELECT codes.vec_id, CAST(SUM(qlut.d) AS BIGINT) AS adc_d
  FROM codes JOIN qlut ON codes.m = qlut.m AND codes.k = qlut.k
  GROUP BY codes.vec_id
  ORDER BY adc_d, codes.vec_id
  LIMIT 50
),
e AS (SELECT vec_id, {DUCK_VEC} AS v FROM embeddings),
qv AS (SELECT v FROM e WHERE vec_id = 0)
SELECT s.vec_id, s.adc_d,
       round(list_cosine_similarity(e.v, qv.v), 6) AS cos_sim
FROM shortlist s JOIN e ON e.vec_id = s.vec_id CROSS JOIN qv
ORDER BY cos_sim DESC, s.vec_id
LIMIT 10
""",
    tags=("llm", "vector", "ann", "knn"),
)
def q_llm_knn_pq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — the production ANN serving pattern: a cheap
    PQ/ADC pass shortlists 50 candidates (8 integer lookups per corpus
    vector, corpus never shuffled at width), then ONLY the shortlist is
    re-ranked with exact full-precision cosine. At 100 TB the exact
    pass touches 50 vectors regardless of corpus size — re-ranking cost
    is constant, shortlist recall is the only tuning knob (widen the
    shortlist, not the exact pass). The shortlist is tiny → broadcast
    into the full-precision side; top-10 finishes as
    TakeOrderedAndProject. Deterministic end-to-end: integer ADC with
    (adc_d, vec_id) cutoff ordering, cosine rounded to 6 dp."""
    # r19 (measured 2.98 → 2.34 s min-of-5 interleaved at sf0.1): the
    # full-precision query vector rides the shortlist rows instead of
    # its own broadcast — one fewer sequential broadcast-build job (its
    # own embeddings scan) on a query whose local cost is dominated by
    # the serial job chain, and 50 × 64 doubles of extra TakeOrdered
    # payload is nothing. Ordered-identical results (same qv value
    # attached to every row, same cutoffs).
    e = _emb(spark, sf_dir)
    qrow = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    shortlist = (
        _pq_adc_scored(spark, sf_dir)
        .crossJoin(F.broadcast(qrow))
        .orderBy("adc_d", "vec_id")
        .limit(50)
    )
    return (
        e.join(F.broadcast(shortlist), "vec_id")
        .select(
            "vec_id",
            "adc_d",
            F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


_KM_B = 1_000_000  # offset making integer-mean numerators nonnegative


def _kmeans_fix_oracle(k_iter: int) -> str:
    """Chained-CTE oracle for k_iter integer Lloyd iterations — the
    SQL unrolling of the Spark driver loop in q_llm_kmeans_fix. Every
    arithmetic step is BIGINT: quantized coordinates, squared
    distances, and round-half-up means via offset integer division
    (numerators are nonnegative by the _KM_B shift, so truncating and
    floor division agree in both engines)."""
    ctes = [
        f"e AS (SELECT vec_id, {DUCK_VEC} AS v FROM embeddings)",
        """eq AS (
  SELECT vec_id, t.i AS i, CAST(round(v[t.i] * 10000) AS BIGINT) AS vq
  FROM e, range(1, 65) t(i)
)""",
        f"""comp0 AS (
  SELECT vec_id AS cid, i, vq AS q FROM eq WHERE vec_id < {_N_CENTROIDS}
)""",
    ]
    for it in range(k_iter):
        ctes.append(
            f"""d{it} AS (
  SELECT eq.vec_id, c.cid,
         SUM((eq.vq - c.q) * (eq.vq - c.q)) AS d2
  FROM eq JOIN comp{it} c USING (i)
  GROUP BY eq.vec_id, c.cid
)"""
        )
        ctes.append(
            f"""a{it} AS (
  SELECT vec_id, cid
  FROM (SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY d2, cid) AS rk
        FROM d{it})
  WHERE rk = 1
)"""
        )
        ctes.append(
            f"""comp{it + 1} AS (
  SELECT a.cid, eq.i,
         (2 * (SUM(eq.vq) + {_KM_B} * COUNT(*)) + COUNT(*))
           // (2 * COUNT(*)) - {_KM_B} AS q
  FROM a{it} a JOIN eq ON eq.vec_id = a.vec_id
  GROUP BY a.cid, eq.i
)"""
        )
    last = k_iter
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT comp.cid AS centroid_id,
       m.n_members,
       array_to_string(list(CAST(q AS VARCHAR) ORDER BY i), ',') AS centroid_q
FROM comp{last} comp
JOIN (SELECT cid, COUNT(*) AS n_members FROM a{last - 1} GROUP BY cid) m
  ON m.cid = comp.cid
GROUP BY comp.cid, m.n_members
"""
    )


def kmeans_fixpoint(spark: SparkSession, sf_dir: str, k_iter: int) -> DataFrame:
    """k_iter Lloyd iterations as an EXACT INTEGER recurrence: vectors
    are quantized once to 1e-4 long coordinates, assignment compares
    integer SQUARED distances (ties → lower cid), and the mean update
    is round-half-up in pure integer math (offset division — the
    numerator is made nonnegative so truncating and floor division
    agree everywhere). No float touches any state or comparison, so
    both engines (and any partial-sum association order) compute
    bit-identical centroids at every iteration — the same hard
    determinism guarantee as q_graph_pagerank_fix's integer fixed
    point, closing the round-6 advice note that round(distance, 6)
    parity was only probabilistic. Within an iteration the shape is
    q_llm_kmeans_step's, including (since r14) its ASSIGN-THEN-REJOIN
    spelling: broadcast centroids, map-side scoring, a packed-key
    argmin whose shuffle carries n NARROW rows (vec_id only — routed
    through nearest_centroid_assign with int_dist since round 11),
    a shuffle-hash rejoin to the quantized vectors (the identical
    e.select(vec_id, vq) exchange every iteration — AQE's
    ReusedExchange shares it across all k_iter iterations), then a
    (k·64)-key partial-sum shuffle for the means. The driver
    loop chains k_iter such plans; at production
    scale each iteration's 8×64-value centroid state would simply be
    collected to the driver (KB-sized at any corpus size) and
    re-broadcast."""
    e = (
        _emb(spark, sf_dir)
        .select(
            "vec_id",
            F.transform(
                "v", lambda x: F.round(x * 10000).cast("long")
            ).alias("vq"),
        )
    )
    comp = (
        e.filter(F.col("vec_id") < _N_CENTROIDS)
        .select(
            F.col("vec_id").alias("cid"), F.posexplode("vq").alias("i0", "q")
        )
        .select("cid", (F.col("i0") + 1).alias("i"), "q")
    )
    assigned = None
    for _ in range(k_iter):
        cent = comp.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "q"))),
                lambda s: s.getField("q"),
            ).alias("cq")
        )
        # Integer squared distance (exact): routed through the shared
        # packed-key argmin via int_dist — d2·2^17 + cid stays far below
        # 2^63 (d2 ≤ 64·(4e4)² ≈ 1e11 for the 1e-4-quantized corpus), so
        # min over the packed key IS lexicographic (d2, cid), the exact
        # ordering the unrolled oracle's row_number replays.
        # ASSIGN-THEN-REJOIN spelling (the r12/r13 ledgered migration,
        # executed r14 — SCALE.md §20): the argmin groupBy carries only
        # vec_id (a LONG hash per scored row), then the narrow
        # (vec_id, cid) assignment joins back to the SAME
        # e.select(vec_id, vq) projection every iteration — AQE shares
        # that exchange across all k_iter iterations (post-execution
        # adaptive plan shows ReusedExchange ×k, recorded r13), while
        # the retired wide spelling re-hashed the 64-long member vector
        # on every one of the n·k scored rows map-side (step-level ~20 %
        # win that grows with n·k; fixpoint-level sf0.1 wall-clock is a
        # statistical tie — the case is the at-scale hashing cost plus
        # spelling consistency with q_llm_kmeans_step). shuffle_hash on
        # the unique vec_id key: no skew, no SMJ sorts, and at 100 TB
        # the n-row assignment is not broadcastable, so the measured
        # plan IS the at-scale plan. Still zero WindowExec and n (not
        # n·k) rows per exchange. Bit-exactness vs the wide spelling is
        # asserted on every run of tools/measure_kmeans_width.py
        # --fixpoint and in tests/test_round14_ops.py.
        d2 = F.aggregate(
            F.zip_with("vq", "cq", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        narrow = nearest_centroid_assign(
            e, cent, n_centroids=_N_CENTROIDS, int_dist=d2
        ).select("vec_id", F.col("centroid_id").alias("cid"))
        assigned = narrow.hint("shuffle_hash").join(
            e.select("vec_id", "vq"), "vec_id"
        )
        comp = (
            assigned.select("cid", F.posexplode("vq").alias("i0", "x"))
            .select("cid", (F.col("i0") + 1).alias("i"), "x")
            .groupBy("cid", "i")
            .agg(
                F.expr(
                    f"(2 * (sum(x) + {_KM_B} * count(*)) + count(*))"
                    f" div (2 * count(*)) - {_KM_B}"
                ).alias("q")
            )
        )
    members = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    cent_str = comp.groupBy("cid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "q"))),
                lambda s: s.getField("q").cast("string"),
            ),
            ",",
        ).alias("centroid_q")
    )
    return cent_str.join(members, "cid").select(
        F.col("cid").alias("centroid_id"), "n_members", "centroid_q"
    )


@register(
    "q_llm_kmeans_fix",
    oracle=_kmeans_fix_oracle(3),
    tags=("llm", "vector", "ann", "iterative"),
)
def q_llm_kmeans_fix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three chained Lloyd iterations (see kmeans_fixpoint): proves the
    k-means inner loop COMPOSES — the oracle unrolls the identical
    quantized recurrence as chained CTEs, so value parity covers the
    assignment → mean → re-assignment cycle, not just one step.
    Convergence (inertia monotone under quantization noise) is pinned
    in tests/test_round6_ops.py."""
    return kmeans_fixpoint(spark, sf_dir, 3)


@register(
    "q_llm_knn_recall",
    oracle=f"""
WITH e AS (SELECT vec_id, label, {DUCK_VEC} AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
exact AS (
  SELECT e.vec_id, round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
  FROM e, q WHERE e.vec_id <> 0
  ORDER BY cos_sim DESC, e.vec_id LIMIT 10
),
comp AS (
  SELECT label, t.i AS i, AVG(v[t.i]) AS m
  FROM e, range(1, 65) t(i) GROUP BY label, t.i
),
cent AS (SELECT label, list(m ORDER BY i) AS cv FROM comp GROUP BY label),
probe AS (
  SELECT label FROM cent, q
  ORDER BY round(list_cosine_similarity(cv, qv), 6) DESC, label
  LIMIT 3
),
ivf AS (
  SELECT e.vec_id,
         round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
  FROM e JOIN probe USING (label), q
  WHERE e.vec_id <> 0
  ORDER BY cos_sim DESC, vec_id LIMIT 10
)
SELECT CAST(10 AS BIGINT) AS k,
       CAST((SELECT COUNT(*) FROM exact JOIN ivf USING (vec_id)) AS BIGINT)
         AS n_overlap,
       round((SELECT COUNT(*) FROM exact JOIN ivf USING (vec_id)) / 10.0, 6)
         AS recall_at_k
""",
    tags=("llm", "vector", "knn", "ann", "quality"),
)
def q_llm_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF approximate search against the exact
    brute-force baseline — the ANN quality gauge every production
    vector deployment monitors (probe-count and cell-count tuning are
    recall/cost trades; this op is the measurement side of that dial).

    Both sides are deterministic (round-6dp score tiebreaks pin the
    top-k sets in either engine), so unlike the banded sketch
    contracts the recall itself is FULL-value-checked: the oracle
    recomputes exact top-10, the IVF pipeline (centroids → probe-3 →
    in-cell scan), and the overlap. A code change that silently drops
    IVF recall shows up as a hash red, not a quiet quality loss. Cost
    is one exact scan + one IVF probe — exactly the two registered
    queries it audits (the exact side exists only to measure; at
    production scale this runs on a sampled query set, not per
    request)."""
    exact = q_llm_knn(spark, sf_dir).select("vec_id")
    ivf = q_llm_knn_ivf(spark, sf_dir).select("vec_id")
    overlap = exact.join(ivf, "vec_id")
    return overlap.agg(
        F.lit(10).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_overlap"),
        F.round(F.count(F.lit(1)) / 10.0, 6).alias("recall_at_k"),
    )
