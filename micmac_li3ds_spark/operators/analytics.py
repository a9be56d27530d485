"""Composite analytics queries — realistic multi-operator pipelines.

SURVEY.md §2 enumerates operators one at a time; these queries exercise
them COMPOSED the way a warehouse user would (TPC-H Q3/Q5/Q10 shapes
adapted to the driver corpus columns, plus an event-funnel query), so the
engine is demonstrated end-to-end: multi-way joins with mixed broadcast/
shuffle strategies, pushed filters on both sides, exact-cents money
aggregation, and top-k finishes.

Scale notes (SCALE.md §3): dims (region/nation) are broadcast; fact⋈fact
joins shuffle on the join key and are bucket-able at deploy time;
revenue sums use integer cents (exact, associative — lossless map-side
combine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from micmac_li3ds_spark.functions.cache_scope import scoped_cache
from micmac_li3ds_spark.functions.exact import cents, duck_cents, duck_pct, pct
from micmac_li3ds_spark.functions.iterate import (
    fixpoint,
    unpersist_local_checkpoint,
)
from micmac_li3ds_spark.registry import register
from micmac_li3ds_spark.session import shuffle_partitions
from micmac_li3ds_spark.tables import load

_REV = "SUM({p} * (100 - {d})) / 10000.0".format(
    p=duck_cents("l_extendedprice"), d=duck_pct("l_discount")
)


def _revenue() -> F.Column:
    """Exact discounted revenue: Σ extprice·(1-discount), in cents²/10⁴."""
    return F.sum(cents("l_extendedprice") * (100 - pct("l_discount"))) / 10000.0


@register(
    "q_shipping_priority",
    oracle=f"""
SELECT l_orderkey, {_REV} AS revenue, o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
    tags=("analytics", "composite"),
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, filters pushed into all three scans,
    hash agg on the join output, global top-10 (TakeOrderedAndProject).
    customer is small → broadcast into orders; orders⋈lineitem shuffles
    on the order key (bucket-able at deploy)."""
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    cutoff = F.lit("1998-03-15").cast("timestamp")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(
            orders.join(F.broadcast(cust), cust.c_custkey == orders.o_custkey),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_revenue().alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q_local_supplier_volume",
    oracle=f"""
SELECT n_name, {_REV} AS revenue
FROM customer JOIN orders   ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation   ON c_nationkey = n_nationkey
              JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
    tags=("analytics", "composite"),
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join mixing broadcast (region/nation/
    supplier) and shuffle (orders⋈lineitem) strategies, with the
    local-supplier constraint (customer and supplier share a nation)
    applied as a post-join filter."""
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust = load(spark, sf_dir, "customer")
    sup = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(_revenue().alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "q_returned_items",
    oracle=f"""
SELECT c_custkey, c_name, {_REV} AS revenue, n_name
FROM customer JOIN orders   ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    tags=("analytics", "composite"),
)
def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue — join fact to
    customer+nation dims, aggregate per customer, top-20."""
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_revenue().alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q_forecast_revenue",
    oracle="""
SELECT CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
             * CAST(round(l_discount * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0
         AS revenue_delta,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    tags=("analytics", "composite"),
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: how much revenue the discounts in a band gave away
    in a year — a pure scan-side query: every predicate pushes into the
    parquet scan (row-group min/max skipping on shipdate at scale), one
    partial+final aggregate, no shuffle of data rows at all."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        (
            F.sum(cents("l_extendedprice") * pct("l_discount")).cast("double")
            / 10000.0
        ).alias("revenue_delta"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q_promo_revenue",
    oracle="""
WITH j AS (
  SELECT p_type,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT)
           * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev_c
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-06-01'
    AND l_shipdate <  TIMESTAMP '1997-09-01'
)
SELECT round((CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_c ELSE 0 END) AS DOUBLE)
              / 10000.0) * 100.0
             / (CAST(sum(rev_c) AS DOUBLE) / 10000.0), 6) AS promo_pct
FROM j
""",
    tags=("analytics", "composite"),
)
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: share of revenue from promotional parts in a
    window — fact⋈dim broadcast join (part fits executor memory at any
    SF that matters; at 100 TB partsupp-scale, a shuffle join on
    l_partkey with bucketed layout), conditional numerator and
    unconditional denominator in one aggregate pass."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-09-01").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part")
    rev = cents("l_extendedprice") * (100 - pct("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                (F.sum(promo) / 10000.0) * 100.0 / (F.sum(rev) / 10000.0), 6
            ).alias("promo_pct")
        )
    )


@register(
    "q_large_volume_customer",
    oracle="""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       sum_qty
FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250) big
JOIN orders   ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
    tags=("analytics", "composite"),
)
def q_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers behind the largest-volume orders.
    Aggregate lineitem per order with a HAVING filter FIRST (the
    aggregate shrinks the fact table before any join — at 100 TB this
    ordering is the difference between joining 600 M and 300 rows),
    then join back to orders and customer, top-20 by order value.
    l_quantity is integral (measured), so sum is exact in any engine."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@register(
    "q_nation_trade_volume",
    oracle=f"""
SELECT supp_nation, cust_nation, ship_year, {_REV} AS revenue
FROM (SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INTEGER) AS ship_year,
             l_extendedprice, l_discount
      FROM lineitem JOIN orders   ON l_orderkey = o_orderkey
                    JOIN customer ON o_custkey = c_custkey
                    JOIN supplier ON l_suppkey = s_suppkey
                    JOIN nation cn ON c_nationkey = cn.n_nationkey
                    JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
          OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01') t
GROUP BY supp_nation, cust_nation, ship_year
ORDER BY supp_nation, cust_nation, ship_year
""",
    tags=("analytics", "composite"),
)
def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between a pair of nations, per
    direction and year. The nation-pair predicate lands on the two
    broadcast dim joins, shrinking the fact stream before the final
    aggregate; the only wide exchange is orders⋈lineitem. At scale the
    nation filter reduces to two broadcast-probe bitmap checks — the
    sort-merge join's shuffle dominates, so bucket both facts by order
    key at deploy time (SCALE.md §3)."""
    cutoff_lo = F.lit("1996-01-01").cast("timestamp")
    cutoff_hi = F.lit("1998-01-01").cast("timestamp")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= cutoff_lo) & (F.col("l_shipdate") < cutoff_hi)
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    cn = nat.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = nat.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(_revenue().alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


@register(
    "q_event_funnel",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         min(ts) FILTER (WHERE event_type = 'signup')   AS t_signup,
         min(ts) FILTER (WHERE event_type = 'click')    AS t_click,
         min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
  FROM events GROUP BY user_id
)
SELECT
  count(*) AS n_users,
  count(t_signup) AS n_signup,
  count(CASE WHEN t_click > t_signup THEN 1 END) AS n_click_after_signup,
  count(CASE WHEN t_purchase > t_click AND t_click > t_signup THEN 1 END)
    AS n_full_funnel
FROM firsts
""",
    tags=("analytics", "composite", "events"),
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-funnel analysis (signup → click → purchase ordering per
    user): conditional min aggregates per user, then one global rollup.
    Two hash aggregations, no self-joins — the funnel is computed from
    per-user first-occurrence timestamps, which scales as one shuffle on
    user_id regardless of event volume."""
    ev = load(spark, sf_dir, "events")

    def first_ts(etype: str) -> F.Column:
        return F.min(F.when(F.col("event_type") == etype, F.col("ts")))

    firsts = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_signup").alias("n_signup"),
        F.count(F.when(F.col("t_click") > F.col("t_signup"), 1)).alias(
            "n_click_after_signup"
        ),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_signup")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@register(
    "q_priority_linestatus",
    oracle="""
SELECT l_linestatus,
       COUNT(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END)
         AS high_line_count,
       COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 END)
         AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
""",
    tags=("analytics", "composite"),
)
def q_priority_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode column adapted to l_linestatus): one
    fact⋈fact join with the date filter pushed into the lineitem scan,
    then conditional counts per group — the filter prunes row groups
    BEFORE the shuffle, so the join moves only the surviving year."""
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_linestatus")
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(hi, 1)).alias("high_line_count"),
            F.count(F.when(~hi, 1)).alias("low_line_count"),
        )
    )


@register(
    "q_order_count_distribution",
    oracle="""
WITH c_orders AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    tags=("analytics", "composite"),
)
def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count histogram through a LEFT
    join whose predicate lives in the join condition (not a post-filter
    — that would turn the left join inner). Two aggregations: the first
    shuffles on c_custkey, the second input is one row per customer so
    the histogram agg is near-free. COUNT(o_orderkey) counts non-null
    matches only — the unmatched-customer bucket lands at c_count=0."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    joined = c.join(
        o,
        (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q_small_qty_revenue",
    oracle="""
SELECT SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS total_revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#12'
  AND l_quantity < 0.2 * (SELECT SUM(l2.l_quantity) / COUNT(*)
                          FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
""",
    tags=("analytics", "composite", "subquery"),
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lineitems far below their part's average order
    quantity. The correlated scalar AVG decorrelates (Catalyst) into a
    per-part aggregate joined back on p_partkey — one extra shuffle on
    the same key as the main join, not a per-row subquery execution.
    The threshold is written as SUM/COUNT on BOTH engines: quantities
    are integral so the sum is exact in a double regardless of
    aggregation order, making the comparison bit-identical."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    load(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
                    AS DOUBLE) AS total_revenue,
               COUNT(*) AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#12'
          AND l_quantity < 0.2 * (SELECT SUM(l2.l_quantity) / COUNT(*)
                                  FROM lineitem l2
                                  WHERE l2.l_partkey = p_partkey)
        """
    )


@register(
    "q_disjunctive_revenue",
    oracle=f"""
SELECT {_REV} AS revenue, COUNT(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
""",
    tags=("analytics", "composite"),
)
def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst
    extracts the common single-side conjuncts (p_brand/p_size terms
    prune part, quantity bounds prune lineitem) below the join and
    keeps only the cross-side disjunction as the join residual — the
    scans shrink even though no single predicate is universally true."""
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    j = li.join(p, li.l_partkey == p.p_partkey)
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15) & q.between(20, 30))
    )
    return j.filter(cond).agg(
        _revenue().alias("revenue"), F.count(F.lit(1)).alias("n_lines")
    )


@register(
    "q_waiting_supplier",
    oracle="""
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
    tags=("analytics", "composite", "subquery"),
)
def q_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (receipt-vs-commit dates adapted to the return
    flag): suppliers who were the SOLE returning supplier on a finished
    multi-supplier order. The EXISTS/NOT-EXISTS pair decorrelates into
    a left-semi and a left-anti join of lineitem against itself on
    l_orderkey — three shuffles on the same key, which AQE coalesces,
    and a plan with no correlated re-execution anywhere."""
    for t in ("supplier", "lineitem", "orders"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
        """
    )


@register(
    "q_idle_customer_balance",
    oracle="""
SELECT c_nationkey,
       COUNT(*) AS n_custs,
       SUM(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0 AS total_bal
FROM customer c
WHERE c_acctbal > (SELECT SUM(CAST(round(c2.c_acctbal * 100) AS BIGINT)) / 100.0
                          / COUNT(*)
                   FROM customer c2 WHERE c2.c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
ORDER BY c_nationkey
""",
    tags=("analytics", "composite", "subquery"),
)
def q_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (country-code prefix adapted to c_nationkey, the
    no-orders test adapted to no-urgent-orders since every corpus
    customer has orders): above-average-balance customers with no
    urgent activity. The scalar subquery runs ONCE (broadcast into the
    filter); NOT EXISTS decorrelates to a left-anti join against the
    urgent slice of orders. The average is exact-cents-sum / count on
    both engines so the threshold is bit-identical."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_nationkey,
               COUNT(*) AS n_custs,
               CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0
                    AS DOUBLE) AS total_bal
        FROM customer c
        WHERE c_acctbal > (SELECT SUM(CAST(round(c2.c_acctbal * 100) AS BIGINT))
                                  / 100.0 / COUNT(*)
                           FROM customer c2 WHERE c2.c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        GROUP BY c_nationkey
        ORDER BY c_nationkey
        """
    )


@register(
    "q_event_retention",
    oracle="""
WITH ev AS (
  SELECT user_id,
         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
  FROM events
),
firsts AS (
  SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_wk,
         CAST(datediff('day', f.cohort_wk, e.wk) / 7 AS INTEGER) AS week_offset
  FROM ev e JOIN firsts f ON f.user_id = e.user_id
)
SELECT cohort_wk, week_offset, COUNT(*) AS n_active
FROM activity
GROUP BY cohort_wk, week_offset
""",
    tags=("analytics", "composite", "retention"),
)
def q_event_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle — the canonical product-analytics
    composite: cohort = the ISO week of each user's first event;
    n_active = distinct users of that cohort active k weeks later.
    Three aggregations, ALL keyed on user_id until the final small
    rollup: first-week agg, the activity distinct, then the (cohort,
    offset) count — so the heavy stages share one hash partitioning
    and the only new shuffle is over the tiny triangle. Weeks compare
    as dates (integer math after date_trunc — exact parity)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
    )
    firsts = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_wk",
            (F.datediff(F.col("wk"), F.col("cohort_wk")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_wk", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )


@register(
    "q_event_funnel_windowed",
    oracle="""
WITH ev AS (
  SELECT user_id, event_type,
         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s
  FROM events
),
w1 AS (
  SELECT *, min(CASE WHEN event_type = 'signup' THEN ts_s END)
              OVER (PARTITION BY user_id) AS t_signup
  FROM ev
),
w2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts_s > t_signup
                      AND ts_s <= t_signup + 604800 THEN ts_s END)
              OVER (PARTITION BY user_id) AS t_click
  FROM w1
),
w3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_s > t_click
                      AND ts_s <= t_click + 604800 THEN ts_s END)
              OVER (PARTITION BY user_id) AS t_purchase
  FROM w2
),
per_user AS (
  SELECT user_id, max(t_signup) AS t_signup, max(t_click) AS t_click,
         max(t_purchase) AS t_purchase
  FROM w3 GROUP BY user_id
)
SELECT count(*) AS n_users,
       count(t_signup) AS n_signup,
       count(t_click) AS n_click_7d,
       count(t_purchase) AS n_purchase_7d
FROM per_user
""",
    tags=("analytics", "composite", "events"),
)
def q_event_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel: signup → first click within 7 days →
    first purchase within 7 days of that click. Each step's timestamp
    is a conditional MIN window over the SAME user_id partition
    referencing the previous step's column, so all three passes plus
    the per-user collapse ride one hash exchange — no self-joins, no
    per-user event lists collected. This stays a single shuffle at any
    event volume; contrast with the naive 3-way self-join whose
    intermediate explodes on active users. Times compare as epoch
    seconds (integer math — exact parity)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
    )
    w = Window.partitionBy("user_id")
    week = 604800
    staged = (
        ev.withColumn(
            "t_signup",
            F.min(
                F.when(F.col("event_type") == "signup", F.col("ts_s"))
            ).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts_s") > F.col("t_signup"))
                    & (F.col("ts_s") <= F.col("t_signup") + week),
                    F.col("ts_s"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts_s") > F.col("t_click"))
                    & (F.col("ts_s") <= F.col("t_click") + week),
                    F.col("ts_s"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t_signup").alias("t_signup"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_signup").alias("n_signup"),
        F.count("t_click").alias("n_click_7d"),
        F.count("t_purchase").alias("n_purchase_7d"),
    )


@register(
    "q_graph_pagerank_step",
    oracle="""
WITH edges AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
outdeg AS (
  SELECT src, COUNT(*) AS d FROM edges GROUP BY src
)
SELECT e.dst AS supplier,
       round(0.15 + 0.85 * SUM(1.0 / d), 6) AS rank,
       CAST(COUNT(*) AS BIGINT) AS n_in_edges
FROM edges e JOIN outdeg o ON e.src = o.src
GROUP BY e.dst
""",
    tags=("analytics", "graph", "iterative"),
)
def q_graph_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PageRank power-iteration step (damping 0.85, uniform initial
    rank 1.0) over the customer→supplier purchase graph derived from
    orders⋈lineitem. The superstep shape that iterates at 100 TB:
    contributions = rank/out_degree flow along edges (join on src),
    then aggregate by dst — two hash shuffles per iteration, state is
    one rank per vertex, never an adjacency matrix. Out-degrees join
    back to edges on the SAME src key the edge dedup grouped on, so
    the contribution join reuses the dedup's partitioning; a full
    multi-iteration run re-enters this exact plan with the previous
    ranks as input (see pagerank_converged for the fixpoint loop).
    Ranks round to 6 dp — float association order across engines
    differs below that."""
    edges = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(
            load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    return (
        edges.join(outdeg, "src")
        .groupBy(F.col("dst").alias("supplier"))
        .agg(
            F.round(0.15 + 0.85 * F.sum(1.0 / F.col("d")), 6).alias("rank"),
            F.count(F.lit(1)).cast("long").alias("n_in_edges"),
        )
    )


@register(
    "q_top_supplier",
    oracle=f"""
WITH rev AS (
  SELECT l_suppkey AS supplier_no, {_REV} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s_suppkey
""",
    tags=("analytics", "composite"),
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the quarter's top supplier(s) BY REVENUE, ties
    included — which is why it is a scalar-subquery max, not LIMIT 1.
    The revenue aggregate is computed once and reused for both the
    scalar max and the equality filter (Catalyst plans the reuse; no
    second scan of lineitem), then the one-row-ish winners join the
    supplier dim. Exact-cents revenue keeps the tie comparison exact —
    a float revenue would make 'equal to the max' engine-dependent."""
    rev = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_revenue().alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(sup, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q_market_share",
    oracle=f"""
WITH orders_rev AS (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         n_name AS supp_nation,
         {duck_cents("l_extendedprice")} * (100 - {duck_pct("l_discount")})
           AS rev_c4
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1998-01-01'
)
SELECT o_year,
       round(CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev_c4 ELSE 0 END)
                  AS DOUBLE)
             / SUM(rev_c4), 6) AS mkt_share,
       CAST(SUM(rev_c4) AS DOUBLE) / 10000.0 AS total_revenue
FROM orders_rev
GROUP BY o_year
ORDER BY o_year
""",
    tags=("analytics", "composite"),
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (market share): within the ASIA-supplied market,
    the fraction of each year's revenue supplied by one nation (NATION_2) — a
    conditional-sum-over-sum ratio per year. Dims broadcast, the
    orders⋈lineitem shuffle is the only wide exchange, and the ratio's
    numerator and denominator come out of ONE aggregation pass
    (conditional SUM), not two plans joined. Revenue stays in integer
    cents⁴ until the final ratio, so the share is a ratio of exact
    integers — identical in both engines before the 6-dp round."""
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    sup = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    rev_c4 = cents("l_extendedprice") * (100 - pct("l_discount"))
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.col("n_name").alias("supp_nation"),
            rev_c4.alias("rev_c4"),
        )
    )
    return (
        base.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("supp_nation") == "NATION_2", F.col("rev_c4")
                    ).otherwise(F.lit(0))
                ).cast("double")
                / F.sum("rev_c4"),
                6,
            ).alias("mkt_share"),
            (F.sum("rev_c4").cast("double") / 10000.0).alias("total_revenue"),
        )
        .orderBy("o_year")
    )


@register(
    "q_concurrent_sessions",
    oracle="""
WITH ev AS (
  SELECT event_type,
         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s
  FROM events
),
deltas AS (
  SELECT event_type, ts_s AS t, 1 AS d FROM ev
  UNION ALL
  SELECT event_type, ts_s + 1800 AS t, -1 AS d FROM ev
),
net AS (
  SELECT event_type, t,
         SUM(d) AS nd,
         COUNT(*) FILTER (WHERE d = 1) AS n_starts
  FROM deltas GROUP BY event_type, t
),
run AS (
  SELECT event_type, t,
         SUM(nd) OVER (PARTITION BY event_type ORDER BY t) AS conc
  FROM net
),
peaked AS (
  SELECT event_type, t, conc,
         MAX(conc) OVER (PARTITION BY event_type) AS mx
  FROM run
)
SELECT p.event_type,
       CAST(MAX(p.mx) AS BIGINT) AS max_concurrent,
       MIN(p.t) FILTER (WHERE p.conc = p.mx) AS t_peak,
       CAST(MAX(s.n_intervals) AS BIGINT) AS n_intervals
FROM peaked p
JOIN (SELECT event_type, SUM(n_starts) AS n_intervals
      FROM net GROUP BY event_type) s USING (event_type)
GROUP BY p.event_type
""",
    tags=("analytics", "timeseries", "interval"),
)
def q_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event type — every event opens a 30-minute
    activity interval [t, t+1800); the question "how many were active
    at once, and when did the peak first occur" is the interval-overlap
    counting problem. Solved as a SWEEP LINE, never an interval self-
    join: each interval contributes a +1 at its start and a −1 at its
    (exclusive) end, deltas collapse by timestamp, and a running sum
    over time yields the concurrency profile; its max is the answer.
    Cost is O(n) rows and two exchanges — one on (series, timestamp)
    for the delta collapse (map-side combined, well-distributed), then
    one on the series key carrying only the COLLAPSED rows into the
    running-sum window. That order is deliberate: collapsing first
    shrinks what the low-cardinality series exchange must move; the
    interval-overlap self-join this replaces is O(n²) in dense regions
    and unshippable at 100 TB. Collapsing deltas per timestamp BEFORE the
    running sum both shrinks the window input and makes the profile
    well-defined under ties (ends apply before starts at the same
    second ⇔ exclusive interval ends), so peak value and first peak
    time are engine-independent integers."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
    )
    deltas = ev.select(
        "event_type", F.col("ts_s").alias("t"), F.lit(1).alias("d")
    ).unionAll(
        ev.select(
            "event_type", (F.col("ts_s") + 1800).alias("t"), F.lit(-1).alias("d")
        )
    )
    net = deltas.groupBy("event_type", "t").agg(
        F.sum("d").alias("nd"),
        F.count(F.when(F.col("d") == 1, 1)).alias("n_starts"),
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    peaked = net.select(
        "event_type",
        "t",
        "n_starts",
        F.sum("nd").over(w_run).alias("conc"),
    ).select(
        "event_type",
        "t",
        "n_starts",
        "conc",
        F.max("conc").over(w_all).alias("mx"),
        F.sum("n_starts").over(w_all).alias("n_intervals"),
    )
    return peaked.groupBy("event_type").agg(
        F.max("mx").cast("long").alias("max_concurrent"),
        F.min(F.when(F.col("conc") == F.col("mx"), F.col("t"))).alias("t_peak"),
        F.max("n_intervals").cast("long").alias("n_intervals"),
    )


def _pagerank_oracle(k: int) -> str:
    """Chained-CTE oracle for k fixed-point PageRank supersteps (the
    SQL unrolling of the Spark driver loop — same integer math)."""
    ctes = [
        """pairs AS (
  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)""",
        "edges AS (SELECT c AS src, s AS dst FROM pairs"
        " UNION ALL SELECT s AS src, c AS dst FROM pairs)",
        "outdeg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src)",
        "r0 AS (SELECT DISTINCT src AS node,"
        " CAST(1000000 AS BIGINT) AS rank_u FROM edges)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT e.dst AS node,
         CAST(150000 + (850 * SUM(r.rank_u // o.d)) // 1000 AS BIGINT)
           AS rank_u
  FROM edges e
  JOIN outdeg o ON e.src = o.src
  JOIN r{i - 1} r ON r.node = e.src
  GROUP BY e.dst
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node, rank_u, round(rank_u / 1000000.0, 6) AS rank
FROM r{k}
"""
    )


def _pagerank_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, d) contribution edges of the SYMMETRIC customer↔supplier
    purchase graph (customers = 2·custkey, suppliers = 2·suppkey+1),
    d = out-degree of src. Every superstep re-reads this table, and
    without runtime subtree reuse the orders⋈lineitem build plus the
    degree aggregation re-ran once per chained superstep (sf0.1, min-of-4
    noop: q_graph_pagerank_fix 3.95 s → 3.03 s from caching it). It is
    ``scoped_cache``d so its lineage stays replayable; a caller whose
    result no longer reads it unpersists it."""
    pairs = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(
            load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    return scoped_cache(edges.join(outdeg, "src"))


def _pagerank_seed(contrib: DataFrame) -> DataFrame:
    # every edge source has outdeg ≥ 1, so the inner outdeg join keeps
    # the full node set and the seed reads the cached table
    return contrib.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(1000000).cast("long").alias("rank_u")
    )


def _pagerank_step(contrib: DataFrame, ranks: DataFrame) -> DataFrame:
    return (
        contrib.join(ranks, contrib.src == ranks.node)
        .select("dst", F.expr("rank_u div d").alias("contrib"))
        .groupBy(F.col("dst").alias("node"))
        .agg(
            F.expr("CAST(150000 + (850 * SUM(contrib)) div 1000 AS BIGINT)").alias(
                "rank_u"
            )
        )
    )


def _ranks_out(ranks: DataFrame) -> DataFrame:
    return ranks.select(
        "node",
        "rank_u",
        F.round(F.col("rank_u") / 1000000.0, 6).alias("rank"),
    )


def pagerank_fixpoint(
    spark: SparkSession, sf_dir: str, k: int, checkpoint: bool = False
) -> DataFrame:
    """k supersteps of fixed-point PageRank (damping 0.85) over the
    SYMMETRIC customer↔supplier purchase graph (the bipartite edge set
    plus its reverse, so rank circulates instead of draining after one
    hop).

    Determinism across engines AND iteration counts is bought with
    FIXED-POINT integer arithmetic, not rounding: ranks live in
    micro-units (10⁶ = rank 1.0) and each superstep is
    rank' = 150000 + (850 · Σ(rank div outdeg)) div 1000 — pure
    BIGINT math, so K chained iterations cannot accumulate float-
    association drift. The div truncation loses < 1 micro-rank per edge
    per step — bounded, deterministic, and irrelevant to ranking order.

    Each superstep joins contributions on src and aggregates by dst:
    two hash exchanges, vertex state only. By default the k superstep
    plans are chained into one plan; ``checkpoint=True`` runs them on
    ``fixpoint`` instead, so plan depth stays O(1) in k with identical
    results."""
    contrib = _pagerank_edges(spark, sf_dir)
    ranks = _pagerank_seed(contrib)
    if checkpoint:
        ranks, _ = fixpoint(ranks, lambda r: _pagerank_step(contrib, r), rounds=k)
        # the stored ranks no longer read the edge cache; the chained
        # plan below still does, so only this branch frees it
        contrib.unpersist()
    else:
        for _ in range(k):
            ranks = _pagerank_step(contrib, ranks)
    return _ranks_out(ranks)


def pagerank_converged(
    spark: SparkSession,
    sf_dir: str,
    eps_rel: float = 1e-3,
    max_iter: int = 60,
) -> tuple[DataFrame, int]:
    """PageRank driven to CONVERGENCE: iterate the q_graph_pagerank_fix
    superstep until the RELATIVE L1 residual ‖r' − r‖₁ / ‖r'‖₁ drops
    below ``eps_rel`` (the classical stopping criterion — scale-free,
    unlike an absolute per-node cut, which a single high-in-degree hub
    would inflate past any fixed threshold), or ``max_iter``. Returns
    (ranks DataFrame, iterations executed).

    Each superstep's output is joined to the previous ranks, and the two
    residual sums are observed on the round's own checkpoint job, so the
    rank table never leaves the executors and no second action runs.
    The integer fixed-point recurrence makes the iterate sequence
    bit-deterministic, so the stopping iteration is reproducible —
    damping 0.85 contracts the residual geometrically, giving
    convergence in O(log(1/eps)) supersteps regardless of graph size
    (fixed-point truncation adds ≤ 0.85·|E| µ-units of L1 noise per
    step, a vanishing fraction of ‖r‖₁ ≈ n·10⁶ for any graph with
    average degree ≪ 10⁶)."""
    contrib = _pagerank_edges(spark, sf_dir)
    seed = _pagerank_seed(contrib).withColumn("_prev", F.lit(None).cast("long"))

    def step(ranks: DataFrame) -> DataFrame:
        prev = ranks.select("node", F.col("rank_u").alias("_prev"))
        return _pagerank_step(contrib, ranks).join(prev, "node", "left")

    # residual over nodes present in both rounds (null _prev drops out)
    ranks, iters = fixpoint(
        seed,
        step,
        observe={
            "l1_delta": F.sum(F.abs(F.col("rank_u") - F.col("_prev"))),
            "l1_rank": F.sum(F.when(F.col("_prev").isNotNull(), F.col("rank_u"))),
        },
        until=lambda _, r: bool(r["l1_rank"])
        and r["l1_delta"] is not None
        and r["l1_delta"] < eps_rel * r["l1_rank"],
        rounds=max_iter,
    )
    contrib.unpersist()
    return _ranks_out(ranks), iters


@register(
    "q_graph_pagerank_fix",
    oracle=_pagerank_oracle(6),
    tags=("analytics", "graph", "iterative"),
)
def q_graph_pagerank_fix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six chained PageRank supersteps run to near-convergence (see
    pagerank_fixpoint). The oracle unrolls the identical fixed-point
    recurrence as six chained CTEs — value parity across a genuinely
    iterative plan, not just one superstep. The REAL driver loop with
    the relative-L1 stopping rule is ``pagerank_converged`` (same
    superstep, iterate-until-‖Δ‖₁/‖r‖₁ < ε); both its convergence on
    the corpus graph and the bit-determinism of its stopping iteration
    are pinned in tests/test_round6_ops.py."""
    return pagerank_fixpoint(spark, sf_dir, 6)


def copurchase_edges(
    spark: SparkSession, sf_dir: str, group_cap: int = 4096
) -> DataFrame:
    """Undirected customer co-purchase edge list (u, v) with u < v:
    customers joined by buying the same part in the same month. The
    single edge builder shared by q_graph_triangles / q_graph_cc /
    q_graph_sssp (previously three verbatim copies of a grp ⋈ grp
    self-join).

    SKEW GUARD (the scale-killer fix): the naive build joined the
    (part, month, customer) grouping to itself on (part, month), so a
    hot part-month with d buyers emitted d²/2 pair candidates on ONE
    shuffle key — at 100 TB a popular part is a 10⁸–10¹⁰-pair
    single-group blow-up, the exact class q_join_range decomposes with
    hour buckets and every LSH path caps with bucket_cap. This builder
    applies the llm_text.py bucket_cap discipline to graphs:

    - ONE shuffle total: groupBy (p, m) + collect_set(customer), pairs
      expanded INSIDE the sorted group array (flatten/transform/slice —
      the lambda-bound form that stays linear under CollapseProject),
      instead of a self-join that shuffles the grouping twice and
      re-expands via the join.
    - Groups larger than ``group_cap`` are dropped entirely, so the
      per-group expansion is bounded by C(group_cap, 2) ≈ 8.4M pairs at
      the 4096 default, never d². A mega-popular part-month (a
      million-buyer bestseller) is the graph analogue of LSH
      boilerplate: its clique says nothing discriminative about any
      individual pair and would dominate the whole job. The drop is
      observable, not silent — ``copurchase_dropped_groups`` reports
      exactly which (p, m) groups the cap removed, and
      tests/test_round9_ops.py plants a hot clique and asserts both the
      bound and the report.

    Oracle parity: every registered consumer's DuckDB oracle computes
    the UNCAPPED edge set; no (p, m) group in the driver corpus
    approaches the cap (max observed ~7 at sf0.1, asserted by the
    planted-clique property test's corpus guard), so results are
    identical at fixture scale and the cap only engages where the
    uncapped build would already be a skew blow-up."""
    grp = (
        load(spark, sf_dir, "lineitem")
        .join(
            load(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("l_partkey").alias("p"),
            F.date_trunc("month", F.col("o_orderdate")).alias("m"),
            F.col("o_custkey").alias("c"),
        )
    )
    return copurchase_pairs_from_groups(grp, group_cap)


def copurchase_pairs_from_groups(grp: DataFrame, group_cap: int) -> DataFrame:
    """Core of copurchase_edges, split out so the planted-hot-clique
    property test can drive it with a synthetic (p, m, c) grouping.
    collect_set dedups (p, m, c) inside the single shuffle, so no
    upstream .distinct() (a second full shuffle in the old build) is
    needed."""
    ids = F.array_sort(F.collect_set("c")).alias("ids")
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    return (
        grp.groupBy("p", "m")
        .agg(ids)
        .filter((F.size("ids") > 1) & (F.size("ids") <= group_cap))
        .select(F.explode(pair_structs).alias("e"))
        .select(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .distinct()
    )


def copurchase_dropped_groups(
    spark: SparkSession, sf_dir: str, group_cap: int = 4096
) -> DataFrame:
    """The observability half of the cap: (p, m, n_buyers) for every
    group the ``group_cap`` skew guard removed from copurchase_edges —
    run it to LOG what was dropped (the no-silent-caps rule). Same
    single-shuffle shape; at fixture scale it returns zero rows."""
    grp = (
        load(spark, sf_dir, "lineitem")
        .join(
            load(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("l_partkey").alias("p"),
            F.date_trunc("month", F.col("o_orderdate")).alias("m"),
            F.col("o_custkey").alias("c"),
        )
    )
    return (
        grp.groupBy("p", "m")
        .agg(F.count_distinct("c").alias("n_buyers"))
        .filter(F.col("n_buyers") > group_cap)
    )


@register(
    "q_graph_triangles",
    oracle="""
WITH grp AS (
  SELECT DISTINCT l_partkey AS p, date_trunc('month', o_orderdate) AS m,
         o_custkey AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS (
  SELECT DISTINCT a.c AS u, b.c AS v
  FROM grp a JOIN grp b ON a.p = b.p AND a.m = b.m AND a.c < b.c
),
nodes AS (
  SELECT COUNT(DISTINCT u) AS n
  FROM (SELECT u FROM e UNION ALL SELECT v AS u FROM e)
),
tri AS (
  SELECT COUNT(*) AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
)
SELECT (SELECT c FROM tri) AS n_triangles,
       (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT n FROM nodes) AS n_nodes
""",
    tags=("analytics", "graph"),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count over the customer co-purchase graph
    (copurchase_edges — single-shuffle in-group pair expansion with the
    group_cap skew guard, so the pair projection is bounded per
    (part, month) group, never d²; g ≤ ~7 on this corpus).

    Counting uses DEGREE-ORDERED ORIENTATION — the standard trick that
    makes distributed triangle counting survive skew: each undirected
    edge is directed from its lower-(degree, id) endpoint to the
    higher, which caps every oriented out-degree at O(√E) regardless
    of how large a hub's raw degree is. Wedges are then generated only
    from co-oriented edge pairs at their common source and closed by
    one equi-join back to the oriented edge set — total wedge work is
    Σ outdeg² ≤ O(E^1.5), the best known bound for exact counting,
    versus the unbounded Σ deg² a naive neighbor-join would pay on a
    power-law graph. The oracle counts the same triangles with the
    orientation-free a<b<c triple join (identical total — every
    triangle is counted exactly once under any acyclic orientation).

    All three outputs are plain BIGINT scalars; joins are equi-joins
    on (part, month) / node keys; no float anywhere."""
    # The edge list fans out into five consumers (degree build, the
    # orientation's two degree joins, the closing join, the edge
    # count) and is deliberately NOT materialized (r18, measured
    # best-of-3 noop at sf0.1: none 4.74 s / scoped cache 4.29 s /
    # eager localCheckpoint 4.64 s — all within ambient noise, so the
    # recompute is cheaper than it looks: the co-purchase build is
    # scan+broadcast-join+bounded group expansion, and materializing
    # it pays storage writes plus an InMemoryTableScan per consumer).
    # The degree build below reads each edge ONCE via explode instead
    # of the former union-of-two-selects, which evaluated the whole
    # edge build twice for that branch alone.
    e = copurchase_edges(spark, sf_dir)
    deg = (
        e.select(
            F.explode(F.array(F.col("u"), F.col("v"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    o = (
        e.join(deg.select(F.col("node").alias("u"), F.col("dg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("dg").alias("dv")), "v")
        .select(
            F.when(
                F.struct("du", "u") < F.struct("dv", "v"), F.col("u")
            )
            .otherwise(F.col("v"))
            .alias("src"),
            F.when(
                F.struct("du", "u") < F.struct("dv", "v"), F.col("v")
            )
            .otherwise(F.col("u"))
            .alias("dst"),
            F.when(
                F.struct("du", "u") < F.struct("dv", "v"), F.col("dv")
            )
            .otherwise(F.col("du"))
            .alias("ddeg"),
        )
    )
    o1 = o.select(
        F.col("src"), F.col("dst").alias("x"), F.col("ddeg").alias("xd")
    )
    o2 = o.select(
        F.col("src"), F.col("dst").alias("y"), F.col("ddeg").alias("yd")
    )
    wedges = (
        o1.join(o2, "src")
        .filter(F.struct("xd", "x") < F.struct("yd", "y"))
        .select("x", "y")
    )
    closed = wedges.join(
        o.select(F.col("src").alias("x"), F.col("dst").alias("y")),
        ["x", "y"],
    )
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    n_e = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_v = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return tri.crossJoin(F.broadcast(n_e)).crossJoin(F.broadcast(n_v))


@register(
    "q_min_cost_supplier",
    oracle=f"""
WITH supply AS (
  SELECT l_partkey, l_suppkey,
         min({duck_cents("l_extendedprice")} // CAST(l_quantity AS BIGINT))
           AS cost_c
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
scoped AS (
  SELECT s.l_partkey, s.l_suppkey, s.cost_c,
         sup.s_name, sup.s_acctbal, n.n_name
  FROM supply s
  JOIN supplier sup ON s.l_suppkey = sup.s_suppkey
  JOIN nation n ON sup.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
),
best AS (SELECT l_partkey, min(cost_c) AS best_c FROM scoped GROUP BY l_partkey)
SELECT p.p_partkey, p.p_brand, sc.s_name, sc.n_name, sc.s_acctbal,
       sc.cost_c / 100.0 AS min_cost
FROM scoped sc
JOIN best b ON sc.l_partkey = b.l_partkey AND sc.cost_c = b.best_c
JOIN part p ON sc.l_partkey = p.p_partkey
WHERE p.p_size >= 8
""",
    tags=("analytics", "composite", "tpch"),
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape adapted to this corpus (which carries no partsupp
    table): the cheapest EUROPE supplier(s) per sizable part, where
    supply cost is the minimum observed unit price in lineitem
    (integer cents div integer quantity — exact, so 'equal to the
    minimum' is engine-independent, the same reason Q15's max uses
    exact cents). Shape preserved from Q2: a correlated min over a
    4-way dim join, decorrelated into a per-part window min + equality
    filter (ties kept). All dims broadcast; the wide ops are the
    (part, supp) supply aggregate and one window exchange on partkey —
    the aggregate + equality-self-join spelling of the same semantics
    costs three more exchanges (measured), because neither join side
    can reuse the (part, supp) partitioning for a (part)-keyed join."""
    supply = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(
                F.expr(
                    "CAST(round(l_extendedprice * 100) AS BIGINT)"
                    " div CAST(l_quantity AS BIGINT)"
                )
            ).alias("cost_c")
        )
    )
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    scoped = (
        supply.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("l_partkey", "cost_c", "s_name", "s_acctbal", "n_name")
    )
    parts = load(spark, sf_dir, "part").filter(F.col("p_size") >= 8)
    # correlated min as a window, not an aggregate + equality self-join:
    # the window formulation keeps ties and costs ONE exchange on
    # l_partkey instead of the self-join's three (agg + both join
    # sides) — measured 5 exchanges down to 2 for the whole query
    w_part = Window.partitionBy("l_partkey")
    return (
        scoped.withColumn("best_c", F.min("cost_c").over(w_part))
        .filter(F.col("cost_c") == F.col("best_c"))
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            "n_name",
            "s_acctbal",
            (F.col("cost_c") / 100.0).alias("min_cost"),
        )
    )


@register(
    "q_product_profit",
    oracle=f"""
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS INT) AS o_year,
       CAST(SUM({duck_cents("l_extendedprice")} * (100 - {duck_pct("l_discount")})
            - {duck_cents("p_retailprice")} * CAST(l_quantity AS BIGINT) * 100)
            AS BIGINT) / 10000.0 AS profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE p.p_name LIKE '%red%'
GROUP BY nation, o_year
""",
    tags=("analytics", "composite", "tpch"),
)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-line profit by supplier nation and
    year), with part retail price standing in for the absent
    ps_supplycost: profit = revenue − retailprice·quantity, all in
    exact c4 (hundredths-of-cent) integer units until the final
    divide. The part filter (name contains 'red') prunes BEFORE the
    join — at scale the broadcast of the filtered part dim plus the
    pushed LIKE is what keeps the 5-way join from touching most of
    lineitem's partkeys. Fact-fact join (lineitem⋈orders) shuffles on
    orderkey; every dim broadcasts."""
    li = load(spark, sf_dir, "lineitem")
    parts = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit_c4 = cents("l_extendedprice") * (100 - pct("l_discount")) - cents(
        "p_retailprice"
    ) * F.col("l_quantity").cast("long") * 100
    return (
        li.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg((F.sum(profit_c4) / 10000.0).alias("profit"))
    )


@register(
    "q_important_parts",
    oracle=f"""
WITH pv AS (
  SELECT l_partkey,
         CAST(SUM({duck_cents("l_extendedprice")}) AS BIGINT) AS value_c
  FROM lineitem
  GROUP BY l_partkey
)
SELECT l_partkey, value_c / 100.0 AS part_value
FROM pv
WHERE value_c * (SELECT COUNT(*) FROM pv) * 10
      > (SELECT CAST(SUM(value_c) AS BIGINT) FROM pv) * 12
""",
    tags=("analytics", "composite", "tpch"),
)
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock value): parts whose traded
    value exceeds 1.2x the average per-part share, with the threshold
    as a scalar subquery. (Q11's literal 0.1%-of-total cut and its
    nation scope are both re-based: the corpus' near-uniform part
    values and supplier-less small-SF nations would make either
    vacuously empty at test scale; a relative-to-average cut keeps the
    scalar-subquery shape selective at EVERY SF.) The significance
    cut is EXACT integer arithmetic — value_c·1000 > total_c — not a
    float fraction compare, so borderline parts cannot flip between
    engines. The per-part aggregate is computed once and reused for
    both the values and the scalar total (one broadcast of a 1-row
    aggregate); the integer spelling value_c·n·10 > total·12 avoids the
    decimal/double coercion a float-fraction threshold would smuggle
    in, so borderline parts cannot flip between engines."""
    li = load(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(cents("l_extendedprice")).alias("value_c")
    )
    total = pv.agg(
        F.sum("value_c").alias("total_c"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        pv.join(
            F.broadcast(total),
            F.col("value_c") * F.col("n_parts") * 10 > F.col("total_c") * 12,
        )
        .select("l_partkey", (F.col("value_c") / 100.0).alias("part_value"))
    )


@register(
    "q_supplier_part_count",
    oracle="""
WITH bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0),
rel AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM bad)
)
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT r.l_suppkey) AS supplier_cnt
FROM rel r JOIN part p ON r.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#9' AND p.p_type NOT LIKE 'PROMO%'
GROUP BY p.p_brand, p.p_type, p.p_size
""",
    tags=("analytics", "composite", "tpch"),
)
def q_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier diversity per part class): how many
    distinct suppliers serve each (brand, type, size), excluding a
    denylist (here: suppliers in arrears, s_acctbal < 0) via NOT IN —
    which Catalyst plans as a null-aware anti join, broadcast because
    the denylist is tiny. The supply relation is the DISTINCT
    (part, supp) projection of lineitem (the corpus' stand-in for
    partsupp); the dedup and the final count-distinct both partition
    on partkey-leading keys. Part filters land in the dim scan before
    its broadcast."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    rel = (
        li.join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .distinct()
    )
    parts = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#9") & (~F.col("p_type").like("PROMO%"))
    )
    return (
        rel.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q_excess_volume_supplier",
    oracle="""
WITH vol AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_ps
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
  GROUP BY l_partkey, l_suppkey
),
tot AS (SELECT l_partkey, CAST(SUM(qty_ps) AS BIGINT) AS qty_p
        FROM vol GROUP BY l_partkey),
dominant AS (
  SELECT DISTINCT v.l_suppkey
  FROM vol v JOIN tot t ON v.l_partkey = t.l_partkey
  WHERE v.qty_ps * 2 > t.qty_p
)
SELECT s.s_name, n.n_name
FROM dominant d
JOIN supplier s ON d.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
""",
    tags=("analytics", "composite", "tpch"),
)
def q_excess_volume_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (the nested semi-join chain): suppliers who
    DOMINATED the 1997 supply of at least one part — shipped more than
    half that part's total volume. Adapted from availqty>half-demand
    to observed volume (no partsupp in the corpus); the chain
    structure survives: inner aggregate per (part, supp) → per part →
    ratio filter → DISTINCT supplier semi-set → join the supplier dim.
    The >50% cut is exact integer math (qty_ps·2 > qty_p). Both
    aggregates share the partkey-leading partitioning, the dominance
    join is partkey-colocated, and only the tiny distinct supplier
    set reaches the dim join."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    vol = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qty_ps")
    )
    tot = vol.groupBy("l_partkey").agg(F.sum("qty_ps").alias("qty_p"))
    dominant = (
        vol.join(tot, "l_partkey")
        .filter(F.col("qty_ps") * 2 > F.col("qty_p"))
        .select("l_suppkey")
        .distinct()
    )
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    return (
        dominant.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name")
    )


def _quartile_cuts(per_user: DataFrame, pos_df: DataFrame) -> DataFrame:
    """Exact order statistics of the three RFM metrics, scale-safely.

    ``pos_df`` is a 3-row frame (metric, p1, p2, p3) of 1-based
    ascending rank positions per metric tag ('r'/'f'/'m'). Returns a
    1-row frame cr1..cr3, cf1..cf3, cm1..cm3 where e.g. cr_k = the
    value of recency_s at ascending rank p_k — exact, and a pure
    function of the value multiset (no tie-order dependence).

    The scalable selection plan (no global WindowExec anywhere); all
    three metrics ride ONE pipeline via a stack() tag column:
      1. per-(metric,value) histogram — groupBy, parallel shuffle
      2. range-partition by (metric, value) — partition ids ascend
         with the sort key
      3. per-partition cumsum — Window PARTITIONED by (pid, metric)
      4. cross-partition offsets — broadcast self-join over the
         ≤ 3·P-row totals table (P = partition count, bounded by
         cluster size, not data size)
      5. boundary lookup — min(value where cum ≥ p_k) per metric,
         then a 3-row pivot to one broadcast-able row of 9 cuts.
    Every stage is parallel; the only driver-sized object is the
    offsets table.
    """
    nparts = shuffle_partitions(per_user.sparkSession)
    stacked = per_user.selectExpr(
        "stack(3, 'r', recency_s, 'f', frequency, 'm', monetary_c)"
        " AS (metric, v)"
    )
    hist = stacked.groupBy("metric", "v").agg(F.count("*").alias("cnt"))
    h = hist.repartitionByRange(
        nparts, F.col("metric"), F.col("v").asc()
    ).withColumn("pid", F.spark_partition_id())
    h = h.withColumn(
        "cum_in",
        F.sum("cnt").over(Window.partitionBy("pid", "metric").orderBy("v")),
    )
    totals = h.groupBy("pid", "metric").agg(F.sum("cnt").alias("tot"))
    offs = (
        totals.join(
            F.broadcast(
                totals.select(
                    F.col("pid").alias("bpid"),
                    F.col("metric").alias("bmetric"),
                    F.col("tot").alias("btot"),
                )
            ),
            (F.col("bmetric") == F.col("metric"))
            & (F.col("bpid") < F.col("pid")),
            "left",
        )
        .groupBy("pid", "metric")
        .agg(F.coalesce(F.sum("btot"), F.lit(0)).alias("off"))
    )
    h = h.join(F.broadcast(offs), ["pid", "metric"]).withColumn(
        "cum", F.col("cum_in") + F.col("off")
    )
    h = h.join(F.broadcast(pos_df), "metric")
    per_metric = h.groupBy("metric").agg(
        *[
            F.min(F.when(F.col("cum") >= F.col(f"p{k}"), F.col("v"))).alias(
                f"c{k}"
            )
            for k in (1, 2, 3)
        ]
    )
    return per_metric.groupBy().agg(
        *[
            F.max(
                F.when(F.col("metric") == tag, F.col(f"c{k}"))
            ).alias(f"c{tag}{k}")
            for tag in ("r", "f", "m")
            for k in (1, 2, 3)
        ]
    )


@register(
    "q_event_rfm",
    oracle="""
WITH ev AS (
  SELECT user_id, event_type,
         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events
),
horizon AS (SELECT max(ts_s) AS t_now FROM ev),
per_user AS (
  SELECT user_id,
         (SELECT t_now FROM horizon) - max(ts_s) AS recency_s,
         COUNT(*) FILTER (WHERE event_type = 'purchase') AS frequency,
         coalesce(SUM(c) FILTER (WHERE event_type = 'purchase'), 0)
           AS monetary_c
  FROM ev GROUP BY user_id
),
nn AS (SELECT COUNT(*) AS n FROM per_user),
pos AS (
  SELECT k,
         k * (n // 4) + least(k, n % 4) AS p_asc,
         n - (k * (n // 4) + least(k, n % 4)) + 1 AS p_desc
  FROM nn, (VALUES (1), (2), (3)) t(k)
),
rk AS (
  SELECT recency_s, frequency, monetary_c,
         row_number() OVER (ORDER BY recency_s)  AS rr,
         row_number() OVER (ORDER BY frequency)  AS rf,
         row_number() OVER (ORDER BY monetary_c) AS rm
  FROM per_user
),
cuts AS (
  SELECT
    max(CASE WHEN r.rr = p.p_asc  AND p.k = 1 THEN r.recency_s  END) AS cr1,
    max(CASE WHEN r.rr = p.p_asc  AND p.k = 2 THEN r.recency_s  END) AS cr2,
    max(CASE WHEN r.rr = p.p_asc  AND p.k = 3 THEN r.recency_s  END) AS cr3,
    max(CASE WHEN r.rf = p.p_desc AND p.k = 1 THEN r.frequency  END) AS cf1,
    max(CASE WHEN r.rf = p.p_desc AND p.k = 2 THEN r.frequency  END) AS cf2,
    max(CASE WHEN r.rf = p.p_desc AND p.k = 3 THEN r.frequency  END) AS cf3,
    max(CASE WHEN r.rm = p.p_desc AND p.k = 1 THEN r.monetary_c END) AS cm1,
    max(CASE WHEN r.rm = p.p_desc AND p.k = 2 THEN r.monetary_c END) AS cm2,
    max(CASE WHEN r.rm = p.p_desc AND p.k = 3 THEN r.monetary_c END) AS cm3
  FROM rk r, pos p
),
scored AS (
  SELECT u.user_id, u.recency_s, u.frequency, u.monetary_c,
         1 + CAST(u.recency_s > c.cr1 AS INT)
           + CAST(u.recency_s > c.cr2 AS INT)
           + CAST(u.recency_s > c.cr3 AS INT) AS r_score,
         1 + CAST(u.frequency < c.cf1 AS INT)
           + CAST(u.frequency < c.cf2 AS INT)
           + CAST(u.frequency < c.cf3 AS INT) AS f_score,
         1 + CAST(u.monetary_c < c.cm1 AS INT)
           + CAST(u.monetary_c < c.cm2 AS INT)
           + CAST(u.monetary_c < c.cm3 AS INT) AS m_score
  FROM per_user u, cuts c
)
SELECT user_id, recency_s, frequency, monetary_c / 100.0 AS monetary,
       r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS rfm
FROM scored
""",
    tags=("analytics", "composite", "events"),
)
def q_event_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary): per
    user, seconds since last activity, purchase count, and purchase
    value, each quartiled into a 1–4 score and concatenated into the
    segment label ('111' = best across all three). Recency anchors to
    the corpus' own max timestamp (a scalar broadcast), keeping the
    query reproducible — wall-clock 'now' would change the answer.

    Scale rewrite (round 7, replacing three global ntile windows):
    the quartile CUTPOINTS are exact order statistics at the ntile-4
    boundary positions p_k = k·⌊n/4⌋ + min(k, n mod 4), computed by
    the scalable selection in ``_quartile_cuts`` (per-value histogram
    → range-partitioned partial cumsum → P-row offset join → boundary
    aggregate), then the 9 cutpoints are broadcast and every user is
    scored MAP-SIDE: score = 1 + Σ (value strictly past cutpoint_k).
    No WindowExec touches the per-user table, so the plan has no
    single-partition stage and survives 10⁸ users.

    Tie semantics differ from ntile deliberately: users with EQUAL
    metric values get equal scores (ntile splits tie groups by rank
    position, which is order-dependent and inherently serial). Because
    the cutpoints are exact order statistics of the same integer
    multiset, both engines compute identical scores — no float, no
    tie-break nondeterminism. Money rides integer cents."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("ts_s"),
        cents("value").alias("c"),
    )
    t_now = ev.agg(F.max("ts_s").alias("t_now"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts_s").alias("last_s"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
                "frequency"
            ),
            F.coalesce(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("c"))
                ),
                F.lit(0),
            ).alias("monetary_c"),
        )
        .crossJoin(F.broadcast(t_now))
        .select(
            "user_id",
            (F.col("t_now") - F.col("last_s")).alias("recency_s"),
            "frequency",
            "monetary_c",
        )
    )
    n_df = per_user.agg(F.count("*").alias("n"))

    def _pasc(k: int) -> str:  # ntile-4 boundary position k, ascending
        return f"{k} * (n div 4) + least({k}, n % 4)"

    def _pdesc(k: int) -> str:  # desc rank p ↔ asc rank n - p + 1
        return f"n - ({_pasc(k)}) + 1"

    pos_df = n_df.selectExpr(
        "stack(3, "
        f"'r', {_pasc(1)}, {_pasc(2)}, {_pasc(3)}, "
        f"'f', {_pdesc(1)}, {_pdesc(2)}, {_pdesc(3)}, "
        f"'m', {_pdesc(1)}, {_pdesc(2)}, {_pdesc(3)}"
        ") AS (metric, p1, p2, p3)"
    )
    cuts = _quartile_cuts(per_user, pos_df)

    def _score(v: str, pre: str, desc: bool) -> F.Column:
        s = F.lit(1)
        for k in (1, 2, 3):
            cut = F.col(f"{pre}{k}")
            hit = (F.col(v) < cut) if desc else (F.col(v) > cut)
            s = s + hit.cast("int")
        return s

    return (
        per_user.crossJoin(F.broadcast(cuts))
        .select(
            "user_id",
            "recency_s",
            "frequency",
            (F.col("monetary_c") / 100.0).alias("monetary"),
            _score("recency_s", "cr", False).alias("r_score"),
            _score("frequency", "cf", True).alias("f_score"),
            _score("monetary_c", "cm", True).alias("m_score"),
        )
        .withColumn(
            "rfm",
            F.concat_ws(
                "",
                F.col("r_score").cast("string"),
                F.col("f_score").cast("string"),
                F.col("m_score").cast("string"),
            ),
        )
    )


def _sym_edges(e: DataFrame) -> DataFrame:
    """Both orientations (a, b) of an undirected edge list (u, v), as an
    eager checkpoint the loop's rounds re-read. One explode instead of a
    union of two selects: the union evaluated the whole upstream edge
    build once per branch."""
    return (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
                    F.struct(F.col("v").alias("a"), F.col("u").alias("b")),
                )
            ).alias("_e")
        )
        .select("_e.a", "_e.b")
        .localCheckpoint(eager=True)
    )


def cc_fixpoint(
    e: DataFrame, state=None, fail_after: int | None = None
) -> tuple:
    """Min-label + pointer-jumping connected-components fixpoint over
    an undirected edge list (u, v). Returns (labels DataFrame with
    (node, lbl), round count — rounds executed THIS call, so a resumed
    run reports only its own work). Each round: hash-min over
    neighbours, then one label-of-label self-join (path halving) —
    O(log d) rounds; see q_graph_cc for the full argument.

    Rounds run on :func:`~micmac_li3ds_spark.functions.iterate.fixpoint`:
    eager local checkpoints by default (restart from round 0 on executor
    loss, SCALE.md §15), or, with a ``DurableLoopState``, committed
    parquet rounds that a re-invocation with the same state dir resumes
    from. ``fail_after`` is the crash-simulation hook (raises AFTER
    committing that many rounds). The returned labels are the only
    checkpoint the call leaves behind."""
    sym = _sym_edges(e)
    init = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"), F.lit(True).alias("_chg"))
    )

    def step(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            sym.join(lbl, sym.b == lbl.node)
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("lbl").alias("nmin"))
        )
        # `hashed` feeds both sides of the pointer-jumping self-join and
        # is deliberately NOT materialised: a persist freed after the
        # round's checkpoint measured slower (sf0.1 noop: q_graph_cc
        # 8.95 s → 12.88 s, q_er_resolve 12.12 s → 14.17 s) than
        # recomputing the two joins over the checkpointed inputs
        # (OPTIMIZATION_r18.md).
        hashed = lbl.join(neighbor_min, lbl.node == F.col("node2"), "left").select(
            "node",
            F.least(F.col("lbl"), F.coalesce(F.col("nmin"), F.col("lbl"))).alias(
                "lbl"
            ),
            F.col("lbl").alias("_prev"),
        )
        # the round's starting label rides through the self-join, so the
        # changed count is observed on the checkpoint job itself instead
        # of a second n-row join against the previous round
        return (
            hashed.alias("c")
            .join(
                hashed.select(
                    F.col("node").alias("pnode"), F.col("lbl").alias("plbl")
                ),
                F.col("c.lbl") == F.col("pnode"),
            )
            .select(
                F.col("c.node").alias("node"),
                F.col("plbl").alias("lbl"),
                (F.col("plbl") != F.col("c._prev")).alias("_chg"),
            )
        )

    lbl, rounds = fixpoint(
        init,
        step,
        observe={"changed": F.sum(F.col("_chg").cast("long"))},
        until=lambda _, r: not r["changed"],  # None on an empty graph
        state=state,
        fail_after=fail_after,
    )
    # the labels are self-contained: no surviving plan reads sym
    unpersist_local_checkpoint(sym)
    return lbl, rounds


@register(
    "q_graph_cc",
    oracle="""
WITH RECURSIVE grp AS (
  SELECT DISTINCT l_partkey AS p, date_trunc('month', o_orderdate) AS m,
         o_custkey AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS (
  SELECT DISTINCT a.c AS u, b.c AS v
  FROM grp a JOIN grp b ON a.p = b.p AND a.m = b.m AND a.c < b.c
),
edges AS (
  SELECT u AS a, v AS b FROM e
  UNION ALL
  SELECT v AS a, u AS b FROM e
),
prop AS (
  SELECT a AS nm, LEAST(a, MIN(b)) AS comp FROM edges GROUP BY a
  UNION
  SELECT e2.a AS nm, MIN(l.comp) AS comp
  FROM prop l JOIN edges e2 ON e2.b = l.nm
  GROUP BY e2.a
),
lab AS (
  SELECT nm, MIN(comp) AS comp FROM prop GROUP BY nm
),
sizes AS (SELECT comp, COUNT(*) AS component_size FROM lab GROUP BY comp)
SELECT CAST(component_size AS BIGINT) AS component_size,
       CAST(COUNT(*) AS BIGINT) AS n_components
FROM sizes GROUP BY component_size
""",
    tags=("analytics", "graph", "iterative"),
)
def q_graph_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the customer co-purchase graph (same
    edge set as q_graph_triangles), summarized as the component-size
    histogram (component_size, n_components).

    The iteration is min-label propagation WITH POINTER JUMPING: each
    round first takes every node's min over its neighbours' labels
    (the O(diameter) hash-min step q_er_resolve uses), then
    short-circuits chains by one label-of-label self-join
    (lbl ← lbl[lbl], the path-halving step), which makes label depth
    collapse geometrically — O(log d) rounds instead of O(d), the
    difference between 8 and 250 supersteps on a 100-TB graph with
    long chains. Labels always point at real node ids, so the jump
    join is a plain keyed self-join; rounds run on ``fixpoint`` (one
    checkpoint per round, O(1) plan depth) and the driver reads one
    changed-count scalar per round, observed on that round's job.
    All keys are BIGINT node ids: the fixpoint, and therefore the
    histogram, is engine-exact. The oracle is min-label propagation
    too (recursive-term GROUP BY, a DuckDB extension): each iteration
    emits per-node MIN over neighbours' working labels, so its cost is
    O(edges · diameter-ish) — the earlier transitive-closure spelling
    materialized O(|component|²) reach pairs, which on dense
    co-purchase months risked blowing up the driver's DuckDB run
    rather than returning a wrong answer (15× faster at sf0.01,
    verified row-identical before the swap). Edge build: shared
    copurchase_edges (single-shuffle, group_cap skew guard)."""
    e = copurchase_edges(spark, sf_dir)
    lbl, _rounds = cc_fixpoint(e)
    sizes = lbl.groupBy("lbl").agg(F.count(F.lit(1)).alias("component_size"))
    return sizes.groupBy("component_size").agg(
        F.count(F.lit(1)).alias("n_components")
    )


def bfs_distances(e: DataFrame, source: int | None = None) -> tuple:
    """Single-source BFS hop distances over an undirected edge list
    (u, v). Returns (distances DataFrame (node, dist), source id,
    round count). ``source`` defaults to the minimum node id (a pure
    function of the edge set — engine-reproducible with no RNG).

    Each round expands the frontier one hop: frontier ⋈ edges →
    candidate (neighbour, d+1), anti-joined against the settled set.
    The settled set is ``fixpoint``'s accumulated union of per-round
    frontier checkpoints, so every settled row is written once, in the
    round that discovered it: O(|settled|) checkpoint writes instead of
    re-checkpointing the whole set each round, and one materialising
    job per round. Rounds = eccentricity of the source + the empty
    closing round; on long-chain graphs use cc_fixpoint's pointer
    jumping for componenthood and reserve BFS for when true hop counts
    are the deliverable (they cannot be pointer-jumped)."""
    sym = _sym_edges(e)
    if source is None:
        source = sym.agg(F.min("a")).collect()[0][0]
    seed = e.sparkSession.createDataFrame([(int(source), 0)], "node long, dist int")

    def step(frontier: DataFrame, settled: DataFrame) -> DataFrame:
        cand = (
            frontier.join(sym, frontier.node == sym.a)
            .select(F.col("b").alias("node"), (F.col("dist") + 1).alias("dist"))
            .distinct()
        )
        return cand.join(settled.select("node"), "node", "left_anti")

    settled, rounds = fixpoint(seed, step, accumulate=True)
    # the settled checkpoints do not read the edge list
    unpersist_local_checkpoint(sym)
    return settled, source, rounds


@register(
    "q_graph_sssp",
    oracle="""
WITH RECURSIVE grp AS (
  SELECT DISTINCT l_partkey AS p, date_trunc('month', o_orderdate) AS m,
         o_custkey AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS (
  SELECT DISTINCT a.c AS u, b.c AS v
  FROM grp a JOIN grp b ON a.p = b.p AND a.m = b.m AND a.c < b.c
),
edges AS (
  SELECT u AS a, v AS b FROM e
  UNION ALL
  SELECT v AS a, u AS b FROM e
),
src AS (SELECT MIN(a) AS s FROM edges),
walk AS (
  SELECT s AS node, 0 AS dist FROM src
  UNION
  SELECT e2.b AS node, MIN(w.dist) + 1 AS dist
  FROM walk w JOIN edges e2 ON e2.a = w.node
  WHERE w.dist < 40
  GROUP BY e2.b
),
d AS (SELECT node, MIN(dist) AS dist FROM walk GROUP BY node)
SELECT CAST(dist AS INTEGER) AS dist,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM d GROUP BY dist
""",
    tags=("analytics", "graph", "iterative"),
)
def q_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest hop distances on the customer co-purchase
    graph (the q_graph_cc / q_graph_triangles edge set), summarized as
    the distance histogram (dist, n_nodes) from the minimum node id —
    the "how many hops does influence travel" companion to
    componenthood, and the BFS primitive under neighborhood sampling
    and k-hop feature extraction on behavioral graphs.

    Unit edge weights make hop count the metric, every arithmetic step
    an integer, and the fixpoint engine-exact; a weighted version is
    the same relaxation with dist+weight and the same oracle shape.
    The Spark side is frontier BFS (bfs_distances): per round one
    shrinking-frontier join + one anti-join against settled state on
    localCheckpoint. The oracle reuses the recursive-term GROUP BY
    propagation pattern proven on q_graph_cc — per iteration each
    node's candidate distance is MIN over in-neighbour working rows
    +1, final distance is MIN over all emitted rows. Unlike the CC
    label recursion (whose propagated values come from the FINITE node
    id set, so accumulate-distinct terminates by itself), distances
    grow without bound as they echo around cycles — the recursion
    therefore carries an explicit dist < 40 horizon, giving
    O(40·nodes) accumulated rows and termination by construction. The
    cap is NOT a silent truncation: eccentricities on the co-purchase
    graph are single-digit, and if the graph ever had a node at hop
    ≥ 40 the Spark side (uncapped) would disagree and the driver's
    hash would go red — visible, not wrong. Edge build: shared
    copurchase_edges (single-shuffle, group_cap skew guard)."""
    e = copurchase_edges(spark, sf_dir)
    dist, _src, _rounds = bfs_distances(e)
    return (
        dist.groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(F.col("dist").cast("int").alias("dist"), "n_nodes")
    )


_KCORE_GRP = """
WITH grp AS (
  SELECT DISTINCT l_partkey AS p, date_trunc('month', o_orderdate) AS m,
         o_custkey AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS (
  SELECT DISTINCT a.c AS u, b.c AS v
  FROM grp a JOIN grp b ON a.p = b.p AND a.m = b.m AND a.c < b.c
),
edges AS (
  SELECT u AS a, v AS b FROM e
  UNION ALL
  SELECT v AS a, u AS b FROM e
),
a0 AS (SELECT DISTINCT a AS node FROM edges)"""


def _kcore_peel_ctes(k: int, peels: int) -> str:
    """Unrolled peel CTEs a1..a{peels}: alive_{i+1} = nodes with >= k
    neighbours inside alive_i. Chained (non-recursive) CTEs sidestep
    the single-reference restriction of recursive terms — each peel
    references the previous alive set twice (once per edge endpoint),
    which WITH RECURSIVE cannot express; the pagerank_fix unroll
    precedent."""
    parts = []
    for i in range(1, peels + 1):
        parts.append(f"""
a{i} AS (
  SELECT a AS node FROM (
    SELECT e2.a, COUNT(*) AS d
    FROM edges e2
    JOIN a{i - 1} u ON e2.a = u.node
    JOIN a{i - 1} v ON e2.b = v.node
    GROUP BY e2.a
  ) WHERE d >= {k}
)""")
    return ",".join(parts)


_KCORE_K = 3
_KCORE_PEELS = 4


@register(
    "q_graph_kcore",
    oracle=f"""{_KCORE_GRP},{_kcore_peel_ctes(_KCORE_K, _KCORE_PEELS)}
SELECT e2.a AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
FROM edges e2
JOIN a{_KCORE_PEELS} u ON e2.a = u.node
JOIN a{_KCORE_PEELS} v ON e2.b = v.node
GROUP BY e2.a
""",
    tags=("analytics", "graph", "iterative"),
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition (k=3, _KCORE_K) of the customer co-purchase
    graph: iteratively peel nodes with in-subgraph degree < k until
    stable; emit every surviving node with its within-core degree. The
    degeneracy-core is the graph-robustness primitive under community
    detection, spam-ring mining, and influence seeding — the dense
    backbone that survives when hangers-on are stripped.

    Both engines run EXACTLY 4 (_KCORE_PEELS) fixed peels (the
    pagerank_fix discipline: bit-identical by construction, no
    convergence race), and tests/test_round9_ops.py pins that a
    further peel is a no-op on the corpus — so the registered result
    IS the fixpoint, attested rather than assumed. The corpus
    stabilizes after 1 effective peel (measured at sf0.01 and sf0.1);
    the 3 spare peels are no-ops that keep the unroll safely past the
    fixpoint if a corpus regeneration shifts the graph.

    Scale: edges come from the capped copurchase_edges build; each
    peel is two keyed joins of the edge list against the shrinking
    alive set — shuffle on node ids only, with alive stored per peel by
    ``fixpoint`` (O(1) plan depth across peels). Graphs whose peeling
    depth is unknown use kcore_fixpoint, the loop-until-stable form of
    the same peel."""
    sym = _sym_edges(copurchase_edges(spark, sf_dir))
    alive, _ = fixpoint(
        sym.select(F.col("a").alias("node")).distinct(),
        lambda a: _kcore_peel(sym, a, _KCORE_K),
        rounds=_KCORE_PEELS,
    )
    # sym stays persisted: the RETURNED plan still reads it lazily
    return _kcore_deg(sym, alive)


def _kcore_peel(sym: DataFrame, alive: DataFrame, k: int) -> DataFrame:
    """One peel: within-alive degree, keep nodes with degree ≥ k. Two
    keyed joins of the edge list against the (shrinking) alive set plus
    one count — shuffle on node ids only. Shared verbatim by the
    registered fixed unroll and kcore_fixpoint's production loop."""
    return (
        sym.join(alive.withColumnRenamed("node", "a"), "a")
        .join(alive.withColumnRenamed("node", "b"), "b")
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") >= k)
        .select(F.col("a").alias("node"))
    )


def _kcore_deg(sym: DataFrame, alive: DataFrame) -> DataFrame:
    return (
        sym.join(alive.withColumnRenamed("node", "a"), "a")
        .join(alive.withColumnRenamed("node", "b"), "b")
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("core_deg"))
        .select(F.col("a").alias("node"), "core_deg")
    )


def kcore_fixpoint(
    e: DataFrame,
    k: int = _KCORE_K,
    state=None,
    fail_after: int | None = None,
) -> tuple:
    """Loop-until-stable k-core: peel until a round removes no node,
    read as an unchanged alive count observed on each round's own job.
    Returns (core DataFrame (node, core_deg), rounds executed THIS
    call).

    The registered q_graph_kcore runs a fixed _KCORE_PEELS unroll (the
    oracle-parity form — bit-identical to the DuckDB peel CTEs, no
    convergence race) and its corpus provably stabilizes within it;
    THIS is the production form for graphs whose peeling depth is
    unknown — a long chain peels only its two endpoints per round, so
    depth is O(diameter), unboundable by any fixed unroll (the
    deep-peel test drives a lollipop where 4 peels provably leave
    chain remnants). Both forms share _kcore_peel verbatim; SCALE.md
    documents the swap point.

    Restart semantics match cc_fixpoint: ``state`` makes each round a
    committed parquet round and the call RESUMABLE from the highest
    committed round; ``fail_after`` is the crash-simulation hook."""
    sym = _sym_edges(e)
    alive, rounds = fixpoint(
        sym.select(F.col("a").alias("node")).distinct(),
        lambda a: _kcore_peel(sym, a, k),
        observe={"n": F.count(F.lit(1))},
        until=lambda prev, cur: prev is not None and prev["n"] == cur["n"],
        state=state,
        fail_after=fail_after,
    )
    return _kcore_deg(sym, alive), rounds
