"""M6 reference-derived ETL surface (SURVEY.md §2.12).

The reference (LI3DS/micmac_li3ds) is a row-at-a-time Python loader:
parse MicMac photogrammetry XML → build sensor/referential/transfo
entities → idempotent get-or-create into a relational store. Each of
those behaviors is re-expressed here as a set-oriented Spark operator
(SURVEY.md §1.1, §3.1 — reconstructed behavior; the reference checkout
is empty, see SURVEY.md §0):

- XML normalization: native XML source → nested struct → typed entity
  tables (vs. per-file ElementTree walking).
- Explode of repeated camera groups (vs. Python list loops).
- get-or-create: anti-join + union (vs. per-object GET-then-POST).
- Surrogate keys: content hash of the natural key (vs. DB sequences) —
  deterministic, parallel, collision-checked; never
  monotonically_increasing_id for durable ids.
- Pose/distortion math: array column algebra (vs. scalar Python).
- Transform-graph closure: iterative join to fixpoint (vs. recursive
  Python traversal); the oracle uses WITH RECURSIVE.

Fixtures live in fixtures/ (synthesized by tools/gen_fixtures.py with
parquet twins so DuckDB can check the math without XML support).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from micmac_li3ds_spark.functions.exact import cents
from micmac_li3ds_spark.functions.iterate import fixpoint
from micmac_li3ds_spark.registry import register
from micmac_li3ds_spark.tables import load, read_parquet

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
XML_DIR = os.path.join(_REPO, "fixtures", "xml")
PQ_DIR = os.path.join(_REPO, "fixtures", "parquet")


def _vec(col, n):
    """Space-separated numeric string → double array (the MicMac vector
    encoding); length-checked."""
    arr = F.transform(F.split(F.trim(col), " +"), lambda x: x.cast("double"))
    return F.when(F.size(arr) == n, arr)


@register(
    "q_etl_xml_normalize",
    oracle=f"""
SELECT sensor_name,
       CAST(image_width AS INTEGER) AS image_width,
       CAST(image_height AS INTEGER) AS image_height,
       focal, ppx, ppy, dist_model,
       CAST(unnest(range(1, len(dist_coeffs)+1)) AS INTEGER) AS coeff_idx,
       unnest(list_transform(dist_coeffs, x -> x)) AS coeff
FROM read_parquet('{os.path.join(PQ_DIR, "calibration.parquet")}')
""",
    tags=("etl", "xml"),
)
def q_etl_xml_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intrinsic-calibration XML → typed calibration table (the
    reference's AutoCal import). Native XML source, one row per
    CalibrationInternConique, vectors split+cast from the space-
    separated encoding. DuckDB has no XML reader, so the oracle reads
    the generator's parquet TWIN of the same fixtures — the XML parse
    must round-trip the generator's doubles bitwise. The variable-
    length distortion-coefficient vector is normalized to one row per
    coefficient (posexplode) so every coefficient is value-hashed —
    list cells are unhashable to the driver and a fixed-width unpack
    would truncate the 7-coeff phgr_std model."""
    raw = (
        spark.read.format("xml")
        .option("rowTag", "CalibrationInternConique")
        .option("pathGlobFilter", "autocal_*.xml")
        .load(XML_DIR)
    )
    pp = _vec(F.col("PP"), 2)
    sz = _vec(F.col("SzIm"), 2)
    flat = raw.select(
        F.col("Name").alias("sensor_name"),
        F.element_at(sz, 1).cast("int").alias("image_width"),
        F.element_at(sz, 2).cast("int").alias("image_height"),
        F.col("F").alias("focal"),
        F.element_at(pp, 1).alias("ppx"),
        F.element_at(pp, 2).alias("ppy"),
        F.col("CalibDistortion.ModUnif.TypeModele").alias("dist_model"),
        F.col("CalibDistortion.ModUnif.CoeffDist").alias("dist_coeffs"),
    )
    return flat.select(
        "sensor_name",
        "image_width",
        "image_height",
        "focal",
        "ppx",
        "ppy",
        "dist_model",
        F.posexplode("dist_coeffs").alias("idx0", "coeff"),
    ).select(
        "sensor_name",
        "image_width",
        "image_height",
        "focal",
        "ppx",
        "ppy",
        "dist_model",
        (F.col("idx0") + 1).cast("int").alias("coeff_idx"),
        "coeff",
    )


@register(
    "q_etl_explode_block",
    oracle=f"""
SELECT block_name, cam_id,
       t[1] AS tx, t[2] AS ty, t[3] AS tz,
       r[1] AS r11, r[2] AS r12, r[3] AS r13,
       r[4] AS r21, r[5] AS r22, r[6] AS r23,
       r[7] AS r31, r[8] AS r32, r[9] AS r33
FROM read_parquet('{PQ_DIR}/block_cameras.parquet')
""",
    tags=("etl", "xml"),
)
def q_etl_explode_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Camera-block XML (StructBlockCam): un-nest the repeated
    ParamOrientSHC camera group into one row per camera with translation
    3-vector and row-major 3×3 rotation. Checked against the parquet
    twin — the XML→array parse must round-trip the generator's values
    exactly. Fixed-size vectors are unpacked to scalar columns (the
    driver canonicalizer cannot hash list cells) — doubles compare
    bitwise, no string formatting involved."""
    raw = (
        spark.read.format("xml")
        .option("rowTag", "StructBlockCam")
        .option("pathGlobFilter", "blinis_*.xml")
        .load(XML_DIR)
    )
    cam = raw.select(
        F.col("BlockName").alias("block_name"),
        F.explode("LiaisonsSHC.ParamOrientSHC").alias("c"),
    )
    t = _vec(F.col("c.Vecteur"), 3)
    rot = F.concat(
        _vec(F.col("c.Rot.L1"), 3), _vec(F.col("c.Rot.L2"), 3), _vec(F.col("c.Rot.L3"), 3)
    )
    rcols = [
        F.element_at(rot, i + 1).alias(f"r{i // 3 + 1}{i % 3 + 1}") for i in range(9)
    ]
    return cam.select(
        "block_name",
        F.col("c.IdGrp").alias("cam_id"),
        F.element_at(t, 1).alias("tx"),
        F.element_at(t, 2).alias("ty"),
        F.element_at(t, 3).alias("tz"),
        *rcols,
    )


@register(
    "q_etl_get_or_create",
    oracle=f"""
WITH existing AS (
  SELECT name, type FROM read_parquet('{PQ_DIR}/sensors_existing.parquet')
),
incoming AS (
  SELECT sensor_name AS name, 'camera' AS type
  FROM read_parquet('{PQ_DIR}/calibration.parquet')
  UNION
  SELECT 'rig_' || block_name AS name, 'group' AS type
  FROM (SELECT DISTINCT block_name FROM read_parquet('{PQ_DIR}/block_cameras.parquet'))
),
created AS (
  SELECT i.name, i.type FROM incoming i
  WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.name = i.name)
)
SELECT name, type, 'existing' AS origin FROM existing
UNION ALL
SELECT name, type, 'created' AS origin FROM created
""",
    tags=("etl", "upsert"),
)
def q_etl_get_or_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent get-or-create (the reference's lookup-by-natural-key →
    create-if-absent loop) as one set operation: anti-join the incoming
    batch against the existing table on the natural key, append only the
    misses. Re-running with the same input is a no-op (tests assert
    this). At a JDBC sink the same shape runs per micro-batch in
    foreachBatch with a staging-table MERGE."""
    existing = read_parquet(spark, os.path.join(PQ_DIR, "sensors_existing.parquet"))
    calib = read_parquet(spark, os.path.join(PQ_DIR, "calibration.parquet"))
    blocks = read_parquet(spark, os.path.join(PQ_DIR, "block_cameras.parquet"))
    incoming = (
        calib.select(F.col("sensor_name").alias("name"), F.lit("camera").alias("type"))
        .unionByName(
            blocks.select(
                F.concat(F.lit("rig_"), "block_name").alias("name"),
                F.lit("group").alias("type"),
            ).distinct()
        )
        .distinct()
    )
    created = incoming.join(existing, "name", "left_anti")
    return existing.select("name", "type").withColumn(
        "origin", F.lit("existing")
    ).unionByName(created.select("name", "type").withColumn("origin", F.lit("created")))


@register(
    "q_etl_surrogate_keys",
    oracle="""
SELECT s_suppkey, s_name,
       list_reduce(list_transform(string_split(substr(sha256(s_name), 1, 12), ''),
         c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
         (a, b) -> a * 16 + b) AS surrogate_id
FROM supplier
""",
    tags=("etl", "keys"),
)
def q_etl_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic surrogate ids: 48-bit prefix of sha256(natural key).
    Unlike DB sequences (the reference) or monotonically_increasing_id,
    the id is stable across re-runs, partition layouts, and clusters —
    the property the idempotent importer actually relied on."""
    s = load(spark, sf_dir, "supplier")
    sid = F.conv(F.substring(F.sha2(F.col("s_name"), 256), 1, 12), 16, 10).cast("long")
    return s.select("s_suppkey", "s_name", sid.alias("surrogate_id"))


_PROBE = (1.0, 2.0, 3.0)


@register(
    "q_etl_pose_apply",
    oracle=f"""
SELECT block_name, cam_id,
       round(r[1] * {_PROBE[0]} + r[2] * {_PROBE[1]} + r[3] * {_PROBE[2]} + t[1], 9) AS wx,
       round(r[4] * {_PROBE[0]} + r[5] * {_PROBE[1]} + r[6] * {_PROBE[2]} + t[2], 9) AS wy,
       round(r[7] * {_PROBE[0]} + r[8] * {_PROBE[1]} + r[9] * {_PROBE[2]} + t[3], 9) AS wz
FROM read_parquet('{PQ_DIR}/block_cameras.parquet')
""",
    tags=("etl", "math"),
)
def q_etl_pose_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rigid-transform application (the reference's pose math): world
    point = R·p + t per camera, written as explicit fused column algebra
    in the same evaluation order as the oracle — bit-identical doubles."""
    cams = read_parquet(spark, os.path.join(PQ_DIR, "block_cameras.parquet"))
    r = F.col("r")
    t = F.col("t")

    def row(i: int):
        return (
            F.element_at(r, 3 * i + 1) * _PROBE[0]
            + F.element_at(r, 3 * i + 2) * _PROBE[1]
            + F.element_at(r, 3 * i + 3) * _PROBE[2]
            + F.element_at(t, i + 1)
        )

    return cams.select(
        "block_name",
        "cam_id",
        F.round(row(0), 9).alias("wx"),
        F.round(row(1), 9).alias("wy"),
        F.round(row(2), 9).alias("wz"),
    )


@register(
    "q_etl_distortion_poly",
    oracle=f"""
SELECT sensor_name, dist_model, p.r2,
       round(list_reduce(
         list_concat([CAST(0.0 AS DOUBLE)], list_reverse(dist_coeffs)),
         (acc, c) -> acc * p.r2 + c), 12) AS distortion
FROM read_parquet('{PQ_DIR}/calibration.parquet'),
     (SELECT unnest([0.01, 0.25, 1.0]) AS r2) p
""",
    tags=("etl", "math"),
)
def q_etl_distortion_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distortion-model polynomial evaluation (the reference's per-model
    coefficient sets): Horner fold over the coefficient array at probe
    radii — one higher-order aggregate, any model arity, no UDF."""
    calib = read_parquet(spark, os.path.join(PQ_DIR, "calibration.parquet"))
    probes = F.array(F.lit(0.01), F.lit(0.25), F.lit(1.0))
    ex = calib.select(
        "sensor_name", "dist_model", "dist_coeffs", F.explode(probes).alias("r2")
    )
    horner = F.aggregate(
        F.reverse(F.col("dist_coeffs")),
        F.lit(0.0),
        lambda acc, c: acc * F.col("r2") + c,
    )
    return ex.select(
        "sensor_name", "dist_model", "r2", F.round(horner, 12).alias("distortion")
    )


@register(
    "q_etl_transfo_closure",
    oracle=f"""
WITH RECURSIVE edges AS (
  SELECT source_ref, target_ref FROM read_parquet('{PQ_DIR}/transfo.parquet')
),
closure AS (
  SELECT source_ref, target_ref AS ancestor_ref, 1 AS depth FROM edges
  UNION ALL
  SELECT c.source_ref, e.target_ref, c.depth + 1
  FROM closure c JOIN edges e ON e.source_ref = c.ancestor_ref
)
SELECT source_ref, ancestor_ref, depth FROM closure
""",
    tags=("etl", "graph"),
)
def q_etl_transfo_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transform-graph transitive closure (compose transfos along the
    referential tree): ``transfo_closure`` over the transfo edges. Depth
    is bounded by the frame-tree height (≤ ~5 for sensor rigs), so the
    loop is a few self-joins — each one shuffle on the frontier key. The
    oracle is the WITH RECURSIVE formulation."""
    edges = read_parquet(spark, os.path.join(PQ_DIR, "transfo.parquet"))
    return transfo_closure(edges.select("source_ref", "target_ref"))


def transfo_closure(edges: DataFrame) -> DataFrame:
    """Every (source_ref, ancestor_ref, depth) path of a (source_ref,
    target_ref) edge list, one row per path like the oracle's UNION ALL
    recursion. Runs on ``fixpoint``'s accumulate shape until the
    frontier of depth-d paths is empty. An acyclic graph has no path
    longer than its edge count, so a round past that count proves a
    cycle and raises ``ValueError`` instead of looping forever."""
    n_edges = edges.count()
    paths, rounds = fixpoint(
        edges.select(
            "source_ref",
            F.col("target_ref").alias("ancestor_ref"),
            F.lit(1).alias("depth"),
        ),
        lambda frontier, _: frontier.alias("c")
        .join(edges.alias("e"), F.col("e.source_ref") == F.col("c.ancestor_ref"))
        .select(
            F.col("c.source_ref").alias("source_ref"),
            F.col("e.target_ref").alias("ancestor_ref"),
            (F.col("c.depth") + 1).alias("depth"),
        ),
        accumulate=True,
        rounds=n_edges + 1,
    )
    if rounds > max(n_edges, 1):
        raise ValueError(
            f"transfo graph has a cycle: paths longer than its {n_edges} edges"
        )
    return paths


@register(
    "q_etl_transfo_closure_cte",
    oracle=f"""
WITH RECURSIVE edges AS (
  SELECT source_ref, target_ref FROM read_parquet('{PQ_DIR}/transfo.parquet')
),
closure AS (
  SELECT source_ref, target_ref AS ancestor_ref, 1 AS depth FROM edges
  UNION ALL
  SELECT c.source_ref, e.target_ref, c.depth + 1
  FROM closure c JOIN edges e ON e.source_ref = c.ancestor_ref
)
SELECT source_ref, ancestor_ref, depth FROM closure
""",
    tags=("etl", "graph"),
)
def q_etl_transfo_closure_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same transitive closure via Spark 4's native ``WITH RECURSIVE``
    (availability was a SURVEY.md §7.3 risk — confirmed working in
    4.1.2): the engine's recursion replaces the driver-side fixpoint
    loop of q_etl_transfo_closure, keeping iteration inside one query
    plan. Identical SQL text runs in DuckDB as the oracle. At scale the
    per-iteration shuffle is on the frontier key either way; the CTE
    form additionally lets the engine stop exactly at the fixpoint
    instead of probing an empty frontier once more."""
    read_parquet(spark, os.path.join(PQ_DIR, "transfo.parquet")).select(
        "source_ref", "target_ref"
    ).createOrReplaceTempView("transfo_edges")
    return spark.sql(
        """
        WITH RECURSIVE closure AS (
          SELECT source_ref, target_ref AS ancestor_ref, 1 AS depth
          FROM transfo_edges
          UNION ALL
          SELECT c.source_ref, e.target_ref, c.depth + 1
          FROM closure c JOIN transfo_edges e ON e.source_ref = c.ancestor_ref
        )
        SELECT source_ref, ancestor_ref, depth FROM closure
        """
    )


@register(
    "q_etl_fk_check",
    oracle="""
SELECT 'lineitem->part(price>1200)' AS fk,
       COUNT(*) AS n_orphan_rows,
       COUNT(DISTINCT l_partkey) AS n_missing_keys
FROM lineitem
WHERE NOT EXISTS (SELECT 1 FROM part
                  WHERE p_partkey = l_partkey AND p_retailprice > 1200.0)
UNION ALL
SELECT 'events->customer' AS fk,
       COUNT(*) AS n_orphan_rows,
       COUNT(DISTINCT user_id) AS n_missing_keys
FROM events
WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = user_id)
""",
    tags=("etl", "integrity"),
)
def q_etl_fk_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity validation (the reference delegated this to
    Postgres FK constraints): anti-join orphan detection, one row of
    counts per checked relationship."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_retailprice") > 1200.0)
    ev = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer")

    orphan_li = li.join(
        part, li.l_partkey == part.p_partkey, "left_anti"
    ).agg(
        F.count(F.lit(1)).alias("n_orphan_rows"),
        F.countDistinct("l_partkey").alias("n_missing_keys"),
    ).select(F.lit("lineitem->part(price>1200)").alias("fk"), "n_orphan_rows", "n_missing_keys")

    orphan_ev = ev.join(
        cust, ev.user_id == cust.c_custkey, "left_anti"
    ).agg(
        F.count(F.lit(1)).alias("n_orphan_rows"),
        F.countDistinct("user_id").alias("n_missing_keys"),
    ).select(F.lit("events->customer").alias("fk"), "n_orphan_rows", "n_missing_keys")

    return orphan_li.unionByName(orphan_ev)


@register(
    "q_etl_snapshot_diff",
    oracle="""
WITH old AS (
  SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS status
  FROM orders WHERE o_orderkey % 17 <> 0
),
new AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS price,
         o_orderstatus AS status
  FROM orders WHERE o_orderkey % 13 <> 0
),
diff AS (
  SELECT coalesce(old.k, new.k) AS k,
         CASE WHEN old.k IS NULL THEN 'added'
              WHEN new.k IS NULL THEN 'removed'
              WHEN old.price <> new.price OR old.status <> new.status
                THEN 'changed'
              ELSE 'unchanged' END AS change
  FROM old FULL OUTER JOIN new ON old.k = new.k
)
SELECT change, COUNT(*) AS n_rows, MIN(k) AS min_key, MAX(k) AS max_key
FROM diff
GROUP BY change
""",
    tags=("etl", "cdc"),
)
def q_etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation — the change-data-capture primitive behind
    the reference's idempotent re-import story: full-outer join two
    snapshots on the business key and classify every row as added /
    removed / changed / unchanged, then summarize. The two snapshots are
    derived deterministically from orders (disjoint key exclusions +
    a planted price drift) so both engines diff identical inputs. One
    shuffle on the key; at 100 TB both snapshots are bucketed on the
    key and the diff is co-located — and `changed` detection compares
    only the tracked columns, so adding audit columns doesn't churn."""
    o = load(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 17 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price_old"),
        F.col("o_orderstatus").alias("status_old"),
    )
    new = o.filter(F.col("o_orderkey") % 13 != 0).select(
        F.col("o_orderkey").alias("k2"),
        F.when(
            F.col("o_orderkey") % 20 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")).alias("price_new"),
        F.col("o_orderstatus").alias("status_new"),
    )
    diff = old.join(new, old.k == new.k2, "full_outer").select(
        F.coalesce(F.col("k"), F.col("k2")).alias("key"),
        F.when(F.col("k").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(
            (F.col("price_old") != F.col("price_new"))
            | (F.col("status_old") != F.col("status_new")),
            "changed",
        )
        .otherwise("unchanged")
        .alias("change"),
    )
    return diff.groupBy("change").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("key").alias("min_key"),
        F.max("key").alias("max_key"),
    )


@register(
    "q_etl_cdc_apply",
    oracle="""
WITH ops AS (
  SELECT user_id, event_id,
         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s,
         CASE event_type WHEN 'signup' THEN 'I'
                         WHEN 'error'  THEN 'D'
                         ELSE 'U' END AS op,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts_s DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_ops,
         MIN(CASE WHEN op = 'I' THEN ts_s END)
           OVER (PARTITION BY user_id) AS first_insert_s
  FROM ops
)
SELECT user_id, op AS last_op, ts_s AS last_ts_s, c AS last_c,
       CAST(n_ops AS BIGINT) AS n_ops, first_insert_s
FROM ranked
WHERE rn = 1 AND op <> 'D'
""",
    tags=("etl", "cdc", "events"),
)
def q_etl_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered CDC materialization (MERGE-style last-writer-wins): the
    event stream is read as a change log — signup = INSERT, error =
    DELETE, everything else = UPDATE — and collapsed to current state
    per key. Because only the LAST operation per key decides the final
    row, the apply is one descending row_number per key (+ per-key
    audit counts over the same partition), then a filter dropping keys
    whose final op is a delete. One hash exchange on the key, no
    iterative replay: this is how a 100 TB change log compacts into a
    snapshot in a single shuffle, and it is idempotent under re-runs.
    Times compare as epoch seconds; event_id breaks same-second ties."""
    ops = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    key = Window.partitionBy("user_id")
    ranked = ops.select(
        "user_id",
        "op",
        "ts_s",
        "c",
        F.row_number()
        .over(key.orderBy(F.col("ts_s").desc(), F.col("event_id").desc()))
        .alias("rn"),
        F.count(F.lit(1)).over(key).alias("n_ops"),
        F.min(F.when(F.col("op") == "I", F.col("ts_s")))
        .over(key)
        .alias("first_insert_s"),
    )
    return (
        ranked.filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "user_id",
            F.col("op").alias("last_op"),
            F.col("ts_s").alias("last_ts_s"),
            F.col("c").alias("last_c"),
            F.col("n_ops").cast("long").alias("n_ops"),
            "first_insert_s",
        )
    )


@register(
    "q_etl_dq_summary",
    oracle="""
WITH o AS (
  SELECT COUNT(*) AS n,
         COUNT(*) FILTER (WHERE o_custkey IS NULL) AS v_null,
         COUNT(*) FILTER (WHERE o_totalprice <= 0.0
                             OR o_totalprice > 1000000.0) AS v_range,
         COUNT(*) FILTER (WHERE o_orderdate <  TIMESTAMP '1992-01-01'
                             OR o_orderdate >= TIMESTAMP '1999-01-01') AS v_date,
         COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_dupkey
  FROM orders
),
l AS (
  SELECT COUNT(*) AS n,
         COUNT(*) FILTER (WHERE l_discount < 0.0 OR l_discount > 0.5) AS v_disc,
         COUNT(*) FILTER (WHERE l_quantity < 1.0) AS v_qty
  FROM lineitem
),
fk AS (
  SELECT COUNT(*) AS v_orphan
  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
)
SELECT 'orders_custkey_not_null' AS rule_id, 'orders' AS table_name,
       n AS n_checked, v_null AS n_violations FROM o
UNION ALL
SELECT 'orders_totalprice_range', 'orders', n, v_range FROM o
UNION ALL
SELECT 'orders_orderdate_window', 'orders', n, v_date FROM o
UNION ALL
SELECT 'orders_orderkey_unique', 'orders', n, v_dupkey FROM o
UNION ALL
SELECT 'lineitem_discount_range', 'lineitem', n, v_disc FROM l
UNION ALL
SELECT 'lineitem_quantity_min', 'lineitem', n, v_qty FROM l
UNION ALL
SELECT 'lineitem_orderkey_fk', 'lineitem',
       (SELECT n FROM l), v_orphan FROM fk
""",
    tags=("etl", "quality"),
)
def q_etl_dq_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality rule engine — the contract-check pass a
    warehouse runs after every load (the reference's import-time sanity
    checks, generalized): one row per rule with checked/violation
    counts. Rules of three classes, each with its cheapest-correct
    plan shape: column predicates (null, range, window) ride ONE
    conditional-aggregate scan per table — adding a rule adds a column,
    not a pass; key uniqueness is COUNT(*) − COUNT(DISTINCT key) on the
    same scan; referential integrity is the only rule needing a second
    input (anti-join, which Catalyst turns into a broadcast null-aware
    anti join when the key side fits). All counts are exact integers;
    a healthy corpus reports zeros, and the driver hash pins that —
    a regeneration that breaks a contract fails THIS row, naming the
    rule, instead of erring some downstream query."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    o_agg = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("v_null"),
        F.count(
            F.when(
                (F.col("o_totalprice") <= 0.0)
                | (F.col("o_totalprice") > 1000000.0),
                1,
            )
        ).alias("v_range"),
        F.count(
            F.when(
                (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp"))
                | (
                    F.col("o_orderdate")
                    >= F.lit("1999-01-01").cast("timestamp")
                ),
                1,
            )
        ).alias("v_date"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v_dupkey"),
    )
    l_agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(
            F.when((F.col("l_discount") < 0.0) | (F.col("l_discount") > 0.5), 1)
        ).alias("v_disc"),
        F.count(F.when(F.col("l_quantity") < 1.0, 1)).alias("v_qty"),
    )
    orphans = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"),
              "left_anti")
        .agg(F.count(F.lit(1)).alias("v_orphan"))
    )

    def rule(src, rid: str, tbl: str, n_col: str, v_col: str):
        return src.select(
            F.lit(rid).alias("rule_id"),
            F.lit(tbl).alias("table_name"),
            F.col(n_col).alias("n_checked"),
            F.col(v_col).alias("n_violations"),
        )

    li_n = l_agg.select("n")
    return (
        rule(o_agg, "orders_custkey_not_null", "orders", "n", "v_null")
        .unionByName(rule(o_agg, "orders_totalprice_range", "orders", "n", "v_range"))
        .unionByName(rule(o_agg, "orders_orderdate_window", "orders", "n", "v_date"))
        .unionByName(rule(o_agg, "orders_orderkey_unique", "orders", "n", "v_dupkey"))
        .unionByName(rule(l_agg, "lineitem_discount_range", "lineitem", "n", "v_disc"))
        .unionByName(rule(l_agg, "lineitem_quantity_min", "lineitem", "n", "v_qty"))
        .unionByName(
            rule(
                orphans.crossJoin(F.broadcast(li_n)),
                "lineitem_orderkey_fk",
                "lineitem",
                "n",
                "v_orphan",
            )
        )
    )


@register(
    "q_etl_incremental_agg",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_price,
       COUNT(*) FILTER (WHERE o_orderdate >= TIMESTAMP '1998-01-01')
         AS n_from_delta
FROM orders
GROUP BY o_orderstatus
""",
    tags=("etl", "incremental"),
)
def q_etl_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a distributive aggregate: a
    materialized per-status summary is brought current by aggregating
    ONLY the new batch (orders since the cutoff) and merging its
    partial states with the stored ones — sum-of-sums, sum-of-counts —
    never rescanning the base. Correctness of the merge IS the parity
    claim: the oracle recomputes from the full table, so merge ≡
    recompute must hold exactly (integer cents make the sums
    associative). Here the 'stored' aggregate is computed from the
    pre-cutoff slice to keep the query self-contained; in production
    it is read back from the summary sink and only the delta scan
    (partition-pruned by ingest date at 100 TB) touches data. This is
    the maintenance loop for every distributive/algebraic dashboard
    aggregate; holistic aggregates (exact medians, distincts) need
    sketch state instead (see q_agg_bitmap_distinct / approx family)."""
    cutoff = F.lit("1998-01-01").cast("timestamp")
    o = load(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderdate",
        cents("o_totalprice").alias("c"),
    )

    def partial(df, from_delta: bool):
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("p_n"),
            F.sum("c").alias("p_c"),
            (
                F.count(F.lit(1)) if from_delta else F.lit(0).cast("long")
            ).alias("p_delta"),
        )

    base = partial(o.filter(F.col("o_orderdate") < cutoff), False)
    delta = partial(o.filter(F.col("o_orderdate") >= cutoff), True)
    return (
        base.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("p_n").alias("n_orders"),
            (F.sum("p_c") / 100.0).alias("total_price"),
            F.sum("p_delta").alias("n_from_delta"),
        )
    )


@register(
    "q_etl_merge_upsert",
    oracle="""
WITH target AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
         o_orderstatus AS status
  FROM orders WHERE o_orderkey % 17 <> 0
),
source AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) + 50 AS price_c,
         'M' AS status,
         CASE WHEN o_orderkey % 5 = 0 THEN 'D' ELSE 'U' END AS op
  FROM orders WHERE o_orderkey % 3 = 0
)
SELECT coalesce(t.k, s.k) AS k,
       CASE WHEN s.k IS NULL THEN t.price_c ELSE s.price_c END AS price_c,
       CASE WHEN s.k IS NULL THEN t.status ELSE s.status END AS status,
       CASE WHEN s.k IS NULL THEN 'keep'
            WHEN t.k IS NULL THEN 'insert'
            ELSE 'update' END AS action
FROM target t FULL OUTER JOIN source s ON t.k = s.k
WHERE s.k IS NULL OR s.op <> 'D'
""",
    tags=("etl", "cdc", "merge"),
)
def q_etl_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACID-style MERGE INTO as one relational op — the surface Delta/
    Iceberg expose, composed from this module's snapshot_diff (full-
    outer key reconciliation) and cdc_apply (op-coded change batch)
    semantics:

        MERGE INTO target t USING source s ON t.k = s.k
        WHEN MATCHED AND s.op = 'D' THEN DELETE
        WHEN MATCHED               THEN UPDATE SET *
        WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *

    (a NOT-MATCHED delete is a no-op, per the standard). Inputs are
    derived deterministically from orders: the target snapshot excludes
    every 17th key; the change batch covers every 3rd key — so it mixes
    updates of existing rows with inserts of missing ones — with every
    5th key op-coded as a delete and a planted +50¢ price drift marking
    updated rows. The output is the complete post-MERGE table plus an
    `action` audit column (keep/update/insert), value-hashed against
    DuckDB's CTE emulation of the same MERGE.

    Scale: a MERGE is exactly one full-outer hash join on the table
    key — at 100 TB, target and change batch are both bucketed on k
    and the join is co-located, so the rewrite cost is the changed
    files' IO, not a table scan + random updates. Money compares as
    integer cents (exact.cents); no floats anywhere."""
    o = load(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 17 != 0).select(
        F.col("o_orderkey").alias("tk"),
        cents("o_totalprice").alias("t_price_c"),
        F.col("o_orderstatus").alias("t_status"),
    )
    source = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("sk"),
        (cents("o_totalprice") + 50).alias("s_price_c"),
        F.lit("M").alias("s_status"),
        F.when(F.col("o_orderkey") % 5 == 0, "D").otherwise("U").alias("op"),
    )
    merged = target.join(source, target.tk == source.sk, "full_outer")
    # WHEN MATCHED AND op='D' → delete; NOT MATCHED source-side 'D' → no-op
    survived = merged.filter(F.col("sk").isNull() | (F.col("op") != "D"))
    return survived.select(
        F.coalesce(F.col("tk"), F.col("sk")).alias("k"),
        F.when(F.col("sk").isNull(), F.col("t_price_c"))
        .otherwise(F.col("s_price_c"))
        .alias("price_c"),
        F.when(F.col("sk").isNull(), F.col("t_status"))
        .otherwise(F.col("s_status"))
        .alias("status"),
        F.when(F.col("sk").isNull(), "keep")
        .when(F.col("tk").isNull(), "insert")
        .otherwise("update")
        .alias("action"),
    )


@register(
    "q_etl_asof_snapshot",
    oracle="""
WITH ops AS (
  SELECT user_id, event_id,
         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s,
         CASE event_type WHEN 'signup' THEN 'I'
                         WHEN 'error'  THEN 'D'
                         ELSE 'U' END AS op,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events
  WHERE ts < TIMESTAMP '2024-02-01 00:00:00'
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts_s DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_ops
  FROM ops
)
SELECT user_id, op AS last_op, ts_s AS last_ts_s, c AS last_c,
       CAST(n_ops AS BIGINT) AS n_ops
FROM ranked
WHERE rn = 1 AND op <> 'D'
""",
    tags=("etl", "cdc", "time-travel"),
)
def q_etl_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over a change log — ``SELECT * FROM t AS OF T`` with
    the log as the source of truth: replay the CDC stream (the
    q_etl_cdc_apply op coding) but only for operations at or before
    the AS-OF horizon, collapsing to last-writer-wins state per key.
    With q_etl_merge_upsert (MERGE), q_etl_snapshot_diff (diff), and
    q_etl_cdc_apply (compact-to-now), this completes the query-level
    ACID-table surface: any historical state is one predicate away,
    and the plan is IDENTICAL to compact-to-now — the horizon filter
    pushes down to the scan (PushedFilters on ts), so time travel
    reads strictly LESS data than the full compaction, not more. At
    100 TB the log is time-partitioned and the filter prunes whole
    partitions before the single per-key hash exchange."""
    horizon = F.lit("2024-02-01 00:00:00").cast("timestamp")
    ops = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts") < horizon)
        .select(
            "user_id",
            "event_id",
            F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias(
                "ts_s"
            ),
            F.when(F.col("event_type") == "signup", "I")
            .when(F.col("event_type") == "error", "D")
            .otherwise("U")
            .alias("op"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
    )
    key = Window.partitionBy("user_id")
    ranked = ops.select(
        "user_id",
        "op",
        "ts_s",
        "c",
        F.row_number()
        .over(key.orderBy(F.col("ts_s").desc(), F.col("event_id").desc()))
        .alias("rn"),
        F.count(F.lit(1)).over(key).alias("n_ops"),
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("op") != "D")).select(
        "user_id",
        F.col("op").alias("last_op"),
        F.col("ts_s").alias("last_ts_s"),
        F.col("c").alias("last_c"),
        F.col("n_ops").cast("long").alias("n_ops"),
    )
