"""Relational operator coverage (SURVEY.md §2.2-2.8) over the driver's
TPC-H-shaped tables.

Each query maps a reference operator category to idiomatic DataFrame
code and carries a DuckDB oracle twin. Scale notes are inline: which
joins broadcast, where the shuffles are, and why the plan survives a
100× scale-up.
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from spectraplex_spark.plans.registry import query, table

DEC = T.DecimalType(38, 6)


def dec6(col):
    """Per-row decimal cast — makes downstream SUM exact and
    order-independent (see plans/__init__ determinism rules)."""
    return col.cast(DEC)


def dsum(col):
    """Exact decimal SUM emitted as DOUBLE.

    The aggregation itself runs over DECIMAL(38,6) (exact, shuffle-order
    independent); only the single final value is cast. The driver's
    canonicalizer reads DuckDB results via ``.df()`` (DECIMAL → float64)
    while Spark ``toPandas()`` yields ``decimal.Decimal`` — numerically
    equal but hash-unequal — so every final output column must be DOUBLE
    on both sides (oracle twin: ``CAST(SUM(CAST(... AS DECIMAL(38,6)))
    AS DOUBLE)``). The decimal→double image is deterministic: at gate
    scale the micro-unit total is < 2^53, so both engines produce the
    identical correctly-rounded IEEE double.
    """
    return F.sum(dec6(col)).cast("double")


# --------------------------------------------------------------------------
# Aggregations (SURVEY §2.4 — the index-implied report workloads)
# --------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST((l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    bench=True,
    doc="TPC-H Q1 shape: scan + filter + hash aggregate. Map-side partial "
    "aggregation keeps the shuffle tiny (6 groups) at any scale.",
)
def q1_pricing_summary(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "agg_count_distinct",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Distinct aggregation: Spark plans a two-phase (partial-distinct "
    "then merge) expand; no driver-side work.",
)
def agg_count_distinct(spark, sf_dir):
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "agg_rollup_lineitem",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP: hierarchical subtotals in one pass (Spark Expand node — "
    "rows are replicated per grouping set before one hash agg; no extra scans).",
)
def agg_rollup_lineitem(spark, sf_dir):
    return (
        table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum(F.col("l_quantity")).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
    )


@query(
    "agg_cube_orders",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
           COUNT(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over two report dimensions (SURVEY §2.4's anticipated "
    "tax-report rollups).",
)
def agg_cube_orders(spark, sf_dir):
    return (
        table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(dsum(F.col("o_totalprice")).alias("sum_price"), F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# --------------------------------------------------------------------------

@query(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    bench=True,
    doc="TPC-H Q3 shape: selective dim filter -> broadcast customer into "
    "orders, shuffle join to lineitem on orderkey, agg, TakeOrderedAndProject "
    "top-k (no global sort materialized).",
)
def q3_shipping_priority(spark, sf_dir):
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)  # AQE broadcasts while small
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_region_revenue",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
    bench=True,
    doc="TPC-H Q5 shape: 6-way join. region/nation/supplier/customer are "
    "broadcast dims; only orders⋈lineitem shuffles on orderkey. The "
    "c_nationkey = s_nationkey local-supplier predicate rides the join.",
)
def q5_region_revenue(spark, sf_dir):
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation")
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)  # AQE: broadcast at small SF only
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@query(
    "join_left_order_counts",
    """
    SELECT c_custkey, c_name,
           COUNT(o_orderkey) AS n_orders,
           CAST(SUM(CAST(COALESCE(o_totalprice, 0) AS DECIMAL(38,6))) AS DOUBLE) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
    doc="Left outer join preserving customers with zero orders "
    "(COUNT(col) skips nulls on both engines).",
)
def join_left_order_counts(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum(F.coalesce(F.col("o_totalprice"), F.lit(0))).alias("total_spent"),
        )
    )


@query(
    "join_semi_customers_with_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderstatus = 'F')
    """,
    doc="Left-semi join (EXISTS). Spark never materializes the right side "
    "into the output — at scale this is the cheap way to express the "
    "duplicate-id guard of the reference's ON CONFLICT (SURVEY §2.7).",
)
def join_semi_customers_with_orders(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_anti_customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderstatus = 'P')
    """,
    doc="Left-anti join (NOT EXISTS) — the idempotent-append protocol's "
    "core primitive (new ids not present in the target; SURVEY §4.1). "
    "The status restriction keeps the graded result non-empty at sf0.01 "
    "(every synthetic customer has SOME order, so the unrestricted "
    "anti-join was a vacuous 0-row green).",
)
def join_anti_customers_without_orders(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_broadcast_brand_revenue",
    """
    SELECT p_brand,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
    bench=True,
    doc="Fact⋈dim with explicit broadcast hint: part is small relative to "
    "lineitem at every SF, so the join is shuffle-free; only the 25-group "
    "agg shuffles.",
)
def join_broadcast_brand_revenue(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Window functions (SURVEY §2.5 — running balances / ranking)
# --------------------------------------------------------------------------

@query(
    "window_topn_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 2
    """,
    doc="Per-key top-N via row_number. One shuffle on the partition key; "
    "orderkey tiebreaker makes ranking deterministic.",
)
def window_topn_orders_per_customer(spark, sf_dir):
    from pyspark.sql import Window as W

    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        table(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "window_running_revenue",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6)))
             OVER (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_rev
    FROM lineitem
    """,
    doc="Running total per supplier — the reference schema's anticipated "
    "running-balance report (SURVEY §2.4); decimal sum keeps the prefix "
    "sums exact. The measure itself rides the ORDER BY: the synthetic "
    "(orderkey, linenumber) pairs are NOT unique, and rows tying on all "
    "four keys then yield the same running-sum multiset whichever side "
    "of the tie each engine takes (caught by the sf0.1 parity sweep).",
)
def window_running_revenue(spark, sf_dir):
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        table(spark, sf_dir, "lineitem")
        .withColumn("running_rev", F.sum(dec6(F.col("l_extendedprice"))).over(w).cast("double"))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "running_rev")
    )


@query(
    "window_lag_order_gap",
    """
    SELECT o_custkey, o_orderkey,
           CAST(DATE_DIFF('day',
                LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS INTEGER) AS days_since_prev
    FROM orders
    """,
    doc="lag(): days between consecutive orders per customer "
    "(as-of/previous-row analytics).",
)
def window_lag_order_gap(spark, sf_dir):
    from pyspark.sql import Window as W

    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        table(spark, sf_dir, "orders")
        .withColumn(
            "days_since_prev",
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).cast("int"),
        )
        .select("o_custkey", "o_orderkey", "days_since_prev")
    )


# --------------------------------------------------------------------------
# Sorts / limits / top-k (SURVEY §2.6)
# --------------------------------------------------------------------------

@query(
    "sort_topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    doc="Global top-k: Spark plans TakeOrderedAndProject (per-partition "
    "heap + driver merge) — no full sort at any scale. The reference's O3 "
    "take-most-recent shape (solana.rs:30).",
)
def sort_topk_orders(spark, sf_dir):
    return (
        table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# --------------------------------------------------------------------------
# Set operations (SURVEY §2.7)
# --------------------------------------------------------------------------

@query(
    "setop_union_segments",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
    doc="UNION (distinct).",
)
def setop_union_segments(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.union(b).distinct()


@query(
    "setop_intersect_segments",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
    doc="INTERSECT.",
)
def setop_intersect_segments(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.intersect(b)


@query(
    "setop_except_segments",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
    doc="EXCEPT.",
)
def setop_except_segments(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.subtract(b)  # EXCEPT (distinct) semantics


# --------------------------------------------------------------------------
# Scalar functions (SURVEY §2.8)
# --------------------------------------------------------------------------

@query(
    "scalar_string_parts",
    """
    SELECT p_partkey,
           UPPER(p_brand) AS brand_uc,
           SUBSTR(p_name, 1, 10) AS name_prefix,
           CAST(LENGTH(p_name) AS INTEGER) AS name_len,
           CONCAT(p_brand, ':', p_type) AS brand_type
    FROM part WHERE p_name LIKE '%gold%' OR p_size > 40
    """,
    doc="String functions: upper/substr/length/concat/like — all "
    "whole-stage-codegen JVM expressions, no UDFs.",
)
def scalar_string_parts(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    return p.filter(F.col("p_name").like("%gold%") | (F.col("p_size") > 40)).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_uc"),
        F.substring("p_name", 1, 10).alias("name_prefix"),
        F.length("p_name").cast("int").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
    )


@query(
    "scalar_date_orders",
    """
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS order_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY 1, 2
    """,
    doc="Date-part extraction + period grouping (the reference's "
    "time-bounded report indexes, init.sql:34-35).",
)
def scalar_date_orders(spark, sf_dir):
    return (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
        )
    )


@query(
    "scalar_math_lineitem",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(ABS(l_discount - 0.05) AS DECIMAL(38,6)) AS DOUBLE) AS disc_dev,
           CAST(l_orderkey % 7 AS BIGINT) AS key_mod,
           CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)) AS DOUBLE) AS net_price
    FROM lineitem WHERE l_quantity >= 49
    """,
    doc="Math scalar functions (abs/mod/arithmetic) with decimal-cast "
    "projection for engine-exact compare.",
)
def scalar_math_lineitem(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") >= 49).select(
        "l_orderkey",
        "l_linenumber",
        dec6(F.abs(F.col("l_discount") - 0.05)).cast("double").alias("disc_dev"),
        (F.col("l_orderkey") % 7).cast("bigint").alias("key_mod"),
        dec6(F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("double").alias("net_price"),
    )


@query(
    "scalar_json_events",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
    doc="JSON extraction from the props column (the raw_metadata analog, "
    "SURVEY §2.8 F1-F3) — get_json_object stays JVM-side.",
)
def scalar_json_events(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "case_when_value_tiers",
    """
    SELECT CASE WHEN value < 10 THEN 'low'
                WHEN value < 100 THEN 'mid'
                ELSE 'high' END AS tier,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1
    """,
    doc="CASE WHEN dispatch (the reference's enum mapping / sign "
    "classification shape, F7/F8).",
)
def case_when_value_tiers(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    tier = (
        F.when(F.col("value") < 10, "low")
        .when(F.col("value") < 100, "mid")
        .otherwise("high")
    )
    return ev.groupBy(tier.alias("tier")).agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("value")).alias("sum_value"),
    )


@query(
    "array_ops_embeddings",
    """
    SELECT label,
           COUNT(*) AS n,
           CAST(MIN(len(embedding)) AS INTEGER) AS min_dim,
           CAST(MAX(len(embedding)) AS INTEGER) AS max_dim,
           CAST(SUM(CAST(CAST(embedding[1] AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) AS sum_first
    FROM embeddings GROUP BY label
    """,
    doc="Array functions over the embedding column (size / element_at) — "
    "the E2/E3 column model is plain Spark arrays. The element is "
    "widened float→double BEFORE the decimal cast: float32→decimal "
    "rounds differently across engines on some values (caught by the "
    "sf0.1 parity sweep); float→double widening is exact everywhere.",
)
def array_ops_embeddings(spark, sf_dir):
    em = table(spark, sf_dir, "embeddings")
    return em.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.size("embedding")).cast("int").alias("min_dim"),
        F.max(F.size("embedding")).cast("int").alias("max_dim"),
        dsum(F.get(F.col("embedding"), 0).cast("double")).alias("sum_first"),
    )


# --------------------------------------------------------------------------
# Round-1 widening: more of SURVEY §2's categories, each with an oracle
# --------------------------------------------------------------------------

@query(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: pure filter + global agg — every predicate "
    "reaches the parquet scan (PushedFilters), single-row result.",
)
def q6_forecast_revenue(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))


@query(
    "q4_order_priority_check",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: correlated EXISTS with an extra-key condition → "
    "left-semi join with a composite predicate, then agg.",
)
def q4_order_priority_check(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "q10_returned_revenue",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: returned-items revenue per customer, broadcast "
    "nation+customer dims, top-20.",
)
def q10_returned_revenue(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)  # AQE: broadcast at small SF only
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q14_promo_revenue_ratio",
    """
    SELECT CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
                 ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
           AS promo_ratio,
           COUNT(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
    doc="TPC-H Q14 shape: conditional aggregation ratio. Both sums are "
    "exact decimals; the final ratio divides their (deterministic) "
    "double images so both engines produce the identical IEEE result.",
)
def q14_promo_revenue_ratio(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    net = dec6(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    promo = F.when(F.col("p_type").like("PROMO%"), net).otherwise(dec6(F.lit(0)))
    return (
        li.join(p, li.l_partkey == p.p_partkey)  # AQE: broadcast at small SF only
        .agg(
            (F.sum(promo).cast("double") / F.sum(net).cast("double")).alias("promo_ratio"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q18_large_orders",
    """
    SELECT c_name, o_orderkey, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_name, o_orderkey, o_totalprice
    HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 150
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q18 shape: HAVING over a grouped sum (post-agg filter), "
    "top-10.",
)
def q18_large_orders(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)  # AQE: broadcast at small SF only
        .groupBy("c_name", "o_orderkey", "o_totalprice")
        .agg(F.sum(dec6(F.col("l_quantity"))).alias("_total_qty_dec"))
        .filter(F.col("_total_qty_dec") > 150)  # HAVING compares the exact decimal
        .orderBy(F.desc("_total_qty_dec"), F.asc("o_orderkey"))
        .limit(10)
        .select(
            "c_name",
            "o_orderkey",
            "o_totalprice",
            F.col("_total_qty_dec").cast("double").alias("total_qty"),
        )
    )


@query(
    "q19_disjunctive_predicates",
    """
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand IN ('Brand#1', 'Brand#2') AND p_size BETWEEN 1 AND 20
           AND l_quantity BETWEEN 5 AND 30)
       OR (p_brand IN ('Brand#3', 'Brand#4') AND p_size BETWEEN 21 AND 50
           AND l_quantity BETWEEN 10 AND 40)
    """,
    doc="TPC-H Q19 shape: OR-of-ANDs with IN lists and BETWEEN ranges — "
    "CNF predicate handling across a join.",
)
def q19_disjunctive_predicates(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)  # AQE: broadcast at small SF only
    cond1 = (
        F.col("p_brand").isin("Brand#1", "Brand#2")
        & F.col("p_size").between(1, 20)
        & F.col("l_quantity").between(5, 30)
    )
    cond2 = (
        F.col("p_brand").isin("Brand#3", "Brand#4")
        & F.col("p_size").between(21, 50)
        & F.col("l_quantity").between(10, 40)
    )
    return j.filter(cond1 | cond2).agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("l_extendedprice")).alias("sum_price"),
    )


@query(
    "join_in_subquery",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 8000)
    """,
    doc="IN (subquery) → left-semi join on the filtered dim.",
)
def join_in_subquery(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    rich = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 8000)
    return o.join(rich, o.o_custkey == rich.c_custkey, "left_semi").select(
        "o_orderkey", "o_totalprice"
    )


@query(
    "pivot_status_by_priority",
    """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS status_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS status_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS status_p
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Pivot (wide conditional aggregation) — report-matrix shape; "
    "Spark's pivot() compiles to the same CASE-WHEN aggregate.",
)
def pivot_status_by_priority(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .select(
            "o_orderpriority",
            F.col("F").cast("bigint").alias("status_f"),
            F.col("O").cast("bigint").alias("status_o"),
            F.col("P").cast("bigint").alias("status_p"),
        )
    )


@query(
    "grouping_sets_orders",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="Explicit GROUPING SETS (the general form of rollup/cube) via "
    "Spark SQL — one Expand + one aggregate.",
)
def grouping_sets_orders(spark, sf_dir):
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "window_rank_suite",
    """
    SELECT o_orderkey, o_custkey,
           CAST(RANK()       OVER w AS INTEGER) AS rnk,
           CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk,
           CAST(NTILE(4)     OVER w AS INTEGER) AS quartile,
           PERCENT_RANK() OVER w AS prnk
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="Ranking-function suite over a deterministic (price, key) order.",
)
def window_rank_suite(spark, sf_dir):
    from pyspark.sql import Window as W

    w = W.partitionBy("o_orderstatus").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("prnk"),
    )


@query(
    "window_moving_sum",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6)))
             OVER (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS qty_3row
    FROM lineitem
    """,
    doc="Bounded moving frame (ROWS 2 PRECEDING) — sliding-window "
    "analytics with exact decimal sums; the measure rides the ORDER BY "
    "so non-unique (orderkey, linenumber) ties stay engine-stable "
    "(see window_running_revenue).",
)
def window_moving_sum(spark, sf_dir):
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(-2, W.currentRow)
    )
    return (
        table(spark, sf_dir, "lineitem")
        .withColumn("qty_3row", F.sum(dec6(F.col("l_quantity"))).over(w).cast("double"))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "qty_3row")
    )


@query(
    "agg_collect_sorted",
    """
    SELECT n_nationkey, n_name,
           array_to_string(list_sort(list(DISTINCT s_name)), ',') AS suppliers
    FROM nation JOIN supplier ON s_nationkey = n_nationkey
    GROUP BY n_nationkey, n_name
    """,
    doc="Array aggregation: distinct members collected then sorted — the "
    "deterministic form of collect_list (raw collect order is partition-"
    "dependent and unusable for parity). Emitted as a CSV string: the "
    "driver's pandas canonicalizer cannot hash raw array cells.",
)
def agg_collect_sorted(spark, sf_dir):
    n = table(spark, sf_dir, "nation")
    s = table(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_nationkey", "n_name")
        .agg(F.array_join(F.sort_array(F.collect_set("s_name")), ",").alias("suppliers"))
    )


@query(
    "scalar_string_advanced",
    """
    SELECT p_partkey,
           regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
           replace(p_brand, 'Brand#', 'B') AS brand_short,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           trim(concat('  ', p_type, '  ')) AS type_trimmed,
           CAST(strpos(p_name, 'a') AS INTEGER) AS first_a
    FROM part
    """,
    doc="String function suite: regexp_extract / replace / lpad / trim / "
    "position — all JVM expressions (F8 enum-mapping analog territory).",
)
def scalar_string_advanced(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_brand", "Brand#", "B").alias("brand_short"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.trim(F.concat(F.lit("  "), F.col("p_type"), F.lit("  "))).alias("type_trimmed"),
        F.instr(F.col("p_name"), "a").cast("int").alias("first_a"),
    )


@query(
    "scalar_conditional_funcs",
    """
    SELECT s_suppkey,
           COALESCE(NULLIF(s_acctbal, 0), -1) AS bal_or_flag,
           GREATEST(s_acctbal, 1000) AS bal_floor,
           LEAST(s_acctbal, 5000) AS bal_cap,
           CASE WHEN s_acctbal IS NULL THEN 'missing' ELSE 'present' END AS presence
    FROM supplier
    """,
    doc="Null-handling scalars: coalesce/nullif/greatest/least (the "
    "reference's unwrap_or defaults, F10).",
)
def scalar_conditional_funcs(spark, sf_dir):
    s = table(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.coalesce(F.nullif(F.col("s_acctbal"), F.lit(0.0)), F.lit(-1.0)).alias("bal_or_flag"),
        F.greatest(F.col("s_acctbal"), F.lit(1000.0)).alias("bal_floor"),
        F.least(F.col("s_acctbal"), F.lit(5000.0)).alias("bal_cap"),
        F.when(F.col("s_acctbal").isNull(), "missing").otherwise("present").alias("presence"),
    )


@query(
    "scalar_date_arith",
    """
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(EXTRACT(QUARTER FROM o_orderdate) AS INTEGER) AS qtr,
           CAST(EXTRACT(DOW FROM o_orderdate) AS INTEGER) AS dow
    FROM orders WHERE o_orderkey % 100 = 0
    """,
    doc="Date arithmetic: interval add, last_day, quarter/day-of-week "
    "extraction. (Spark dayofweek is 1=Sunday; DuckDB DOW is 0=Sunday — "
    "aligned via -1.)",
)
def scalar_date_arith(spark, sf_dir):
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return o.select(
        "o_orderkey",
        F.date_add(F.col("o_orderdate"), 30).alias("due_date"),
        F.last_day("o_orderdate").alias("month_end"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        (F.dayofweek("o_orderdate") - 1).cast("int").alias("dow"),
    )


@query(
    "distinct_pairs",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    doc="DISTINCT projection (dedup of the key space).",
)
def distinct_pairs(spark, sf_dir):
    return table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@query(
    "sort_limit_offset",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 10
    """,
    doc="Pagination: LIMIT + OFFSET over a deterministic order (rows "
    "11-20 by price).",
)
def sort_limit_offset(spark, sf_dir):
    return (
        table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(10)
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "variant_json_events",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
    doc="Semi-structured JSON via Spark 4 VariantType (parse_json + "
    "variant_get) — the modern engine path for the reference's JSONB "
    "raw_metadata column: binary-encoded variant beats string re-parsing "
    "when multiple fields are extracted.",
)
def variant_json_events(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "correlated_above_avg_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > (SELECT 1.5 * AVG(o2.o_totalprice)
                          FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
    """,
    doc="Correlated scalar subquery: orders 50%+ above their customer's "
    "average. Catalyst de-correlates this into an aggregate + join — "
    "same rewrite a hand-written groupBy+join would produce. (AVG is "
    "over doubles but only drives a >-comparison against 1.5x — ULP "
    "drift can't flip it on this data; verified exact.)",
)
def correlated_above_avg_orders(spark, sf_dir):
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_corr")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders_corr o
        WHERE o_totalprice > (SELECT 1.5 * AVG(o2.o_totalprice)
                              FROM orders_corr o2
                              WHERE o2.o_custkey = o.o_custkey)
        """
    )


@query(
    "agg_percentiles",
    """
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Exact interpolated percentiles (median/p90) per group — both "
    "engines implement the same linear-interpolation formula, verified "
    "bit-exact. (The approximate sketch variant approx_percentile is the "
    "100 TB path but has no cross-engine oracle.)",
)
def agg_percentiles(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", 0.5).alias("median_price"),
        F.percentile("o_totalprice", 0.9).alias("p90_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "scalar_try_functions",
    """
    SELECT o_orderkey,
           CASE WHEN o_custkey % 5 = 0 THEN NULL
                ELSE o_totalprice / (o_custkey % 5) END AS safe_ratio,
           TRY_CAST(o_orderpriority AS INTEGER) AS bad_cast,
           TRY_CAST(SUBSTR(o_orderpriority, 1, 1) AS INTEGER) AS prio_digit
    FROM orders
    """,
    doc="Error-tolerant scalar family (F10's unwrap_or as functions): "
    "try_divide null on /0, try_cast null on malformed — ANSI mode's "
    "explicit escape hatches.",
)
def scalar_try_functions(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 5).alias("safe_ratio"),
        F.try_to_number(F.col("o_orderpriority"), F.lit("9")).cast("int").alias("bad_cast"),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("prio_digit"),
    )


@query(
    "map_ops_events",
    """
    SELECT event_id,
           array_to_string(list_sort(json_keys(props)), ',') AS prop_keys,
           CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events
    """,
    doc="MapType surface: raw_metadata-style JSON parsed to map<string,long> "
    "(the dynamic-schema escape hatch, SURVEY §1.2), keys/values extracted.",
)
def map_ops_events(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return ev.select(
        "event_id",
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("prop_keys"),
        F.size(F.map_keys(m)).cast("int").alias("n_keys"),
        F.element_at(m, "k").alias("k_value"),
    )


@query(
    "array_posexplode_embeddings",
    """
    SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos,
           CAST(embedding[i] AS DOUBLE) AS val
    FROM embeddings
    CROSS JOIN (SELECT UNNEST(generate_series(1, 4)) AS i) t
    WHERE vec_id < 50
    """,
    doc="posexplode: array → (position, element) rows (the P8 positional "
    "array access pattern in generator form).",
)
def array_posexplode_embeddings(spark, sf_dir):
    em = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    return em.select(
        "vec_id",
        F.posexplode(F.slice(F.transform(F.col("embedding"), lambda x: x.cast("double")), 1, 4)),
    ).select("vec_id", F.col("pos").cast("int").alias("pos"), F.col("col").alias("val"))


@query(
    "q7_nation_trade_flows",
    """
    SELECT supp_nation, cust_nation, order_year,
           CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS order_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                    JOIN orders   ON o_orderkey = l_orderkey
                    JOIN customer ON c_custkey = o_custkey
                    JOIN nation n1 ON s_nationkey = n1.n_nationkey
                    JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name <> n2.n_name
    ) shipping
    GROUP BY supp_nation, cust_nation, order_year
    """,
    doc="TPC-H Q7 shape: cross-nation trade flows — the same dim table "
    "(nation) joined twice under different roles, year extraction, "
    "inequality predicate between the two roles.",
)
def q7_nation_trade_flows(spark, sf_dir):
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").alias("n1")
    n2 = table(spark, sf_dir, "nation").alias("n2")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2.n_nationkey"))
        .filter(F.col("n1.n_name") != F.col("n2.n_name"))
        .groupBy(
            F.col("n1.n_name").alias("supp_nation"),
            F.col("n2.n_name").alias("cust_nation"),
            F.year("l_shipdate").cast("int").alias("order_year"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )


@query(
    "q9_product_profit",
    """
    SELECT nation, order_year,
           CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS profit
    FROM (
      SELECT n_name AS nation,
             CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
             l_extendedprice * (1 - l_discount)
               - 0.4 * p_retailprice * l_quantity AS volume
      FROM lineitem JOIN part     ON l_partkey = p_partkey
                    JOIN supplier ON l_suppkey = s_suppkey
                    JOIN orders   ON o_orderkey = l_orderkey
                    JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%blue%'
    ) profit_src
    GROUP BY nation, order_year
    """,
    doc="TPC-H Q9 shape: profit by nation/year with a cost expression "
    "across two tables and a LIKE-filtered part dim (supplycost stand-in: "
    "0.4 x retail price).",
)
def q9_product_profit(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%blue%"))
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.4 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
        .agg(dsum(profit).alias("profit"))
    )


@query(
    "q16_part_supplier_variety",
    """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
    GROUP BY p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape: negated predicate + IN list + distinct count "
    "over a join (partsupp stood in by lineitem's supplier column).",
)
def q16_part_supplier_variety(spark, sf_dir):
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "unpivot_lineitem_metrics",
    """
    SELECT l_orderkey, l_linenumber, metric,
           CAST(CAST(value AS DECIMAL(38,6)) AS DOUBLE) AS value
    FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS value
      FROM lineitem WHERE l_orderkey < 100
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount
      FROM lineitem WHERE l_orderkey < 100
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'tax', l_tax
      FROM lineitem WHERE l_orderkey < 100
    ) t
    """,
    doc="Unpivot (wide → long, the inverse of pivot): three measure "
    "columns melted into (metric, value) rows via Spark's native "
    "unpivot; oracle is the portable UNION ALL form.",
)
def unpivot_lineitem_metrics(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return (
        li.unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_discount", "l_tax"],
            "metric",
            "value",
        )
        .withColumn(
            "metric",
            F.col("metric").substr(F.lit(3), F.length("metric") - 2),  # drop 'l_' prefix
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "metric",
            dec6(F.col("value")).cast("double").alias("value"),
        )
    )


@query(
    "histogram_order_prices",
    """
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 600000 THEN 13
                ELSE CAST(FLOOR(o_totalprice / 50000.0) AS INTEGER) + 1 END AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY 1
    """,
    doc="Histogram bucketing: width_bucket over the price range — the "
    "distribution-profiling primitive. DuckDB 1.0 has no width_bucket, "
    "so the oracle spells out the SQL-standard semantics (0 below min, "
    "n+1 at/above max, else floor((x-min)/width)+1).",
)
def histogram_order_prices(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(12))
            .cast("int")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
        )
    )


@query(
    "agg_string_concat",
    """
    SELECT n_nationkey,
           string_agg(s_name, ',' ORDER BY s_name) AS supplier_csv
    FROM nation JOIN supplier ON s_nationkey = n_nationkey
    GROUP BY n_nationkey
    """,
    doc="Ordered string aggregation (listagg): deterministic via "
    "explicit member ordering — collect, sort, join on the Spark side.",
)
def agg_string_concat(spark, sf_dir):
    n = table(spark, sf_dir, "nation")
    s = table(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_nationkey")
        .agg(F.array_join(F.sort_array(F.collect_list("s_name")), ",").alias("supplier_csv"))
    )


@query(
    "q13_customer_order_distribution",
    """
    SELECT n_orders, COUNT(*) AS n_customers
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS n_orders
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ) per_customer
    GROUP BY n_orders
    """,
    doc="TPC-H Q13 shape: distribution of orders per customer including "
    "zero (left join) — a two-level aggregation (count of counts).",
)
def q13_customer_order_distribution(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_customer = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_customer.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@query(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    doc="TPC-H Q15 shape: view/CTE + scalar MAX subquery selecting the "
    "top revenue supplier(s) — exact decimal revenue makes the MAX "
    "comparison engine-stable.",
)
def q15_top_supplier(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(dec6(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(max_rev), revenue.total_revenue == F.col("m"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


@query(
    "q22_global_sales_opportunity",
    """
    SELECT cntry, COUNT(*) AS n_custs,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal
    FROM (
      SELECT SUBSTR(c_name, 10, 1) AS cntry, c_acctbal, c_custkey
      FROM customer
      WHERE c_acctbal > (SELECT AVG(CAST(c_acctbal AS DECIMAL(38,6)))
                         FROM customer WHERE c_acctbal > 0)
    ) rich
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = rich.c_custkey)
    GROUP BY cntry
    """,
    doc="TPC-H Q22 shape: scalar AVG subquery threshold + NOT EXISTS "
    "anti-join + substring bucketing. The AVG is computed over exact "
    "decimals so the threshold compare is engine-stable.",
)
def q22_global_sales_opportunity(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(F.avg(dec6(F.col("c_acctbal"))).alias("threshold"))
    )
    rich = (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("threshold"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
    )
    return (
        rich.groupBy(F.substring("c_name", 10, 1).alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            dsum(F.col("c_acctbal")).alias("total_bal"),
        )
    )


@query(
    "q12_priority_shipping_buckets",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate
    GROUP BY l_linestatus
    """,
    doc="TPC-H Q12 shape: conditional counting buckets (IN / NOT IN "
    "CASE) over a join with a cross-table predicate.",
)
def q12_priority_shipping_buckets(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@query(
    "q17_small_quantity_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price,
           COUNT(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (SELECT 0.5 * AVG(CAST(l2.l_quantity AS DECIMAL(38,6)))
                        FROM lineitem l2 WHERE l2.l_partkey = l_partkey)
    """,
    doc="TPC-H Q17 shape: correlated scalar AVG subquery per part "
    "(below-half-average quantities) — Catalyst de-correlates to an "
    "aggregate + join; decimal AVG keeps the threshold engine-stable.",
)
def q17_small_quantity_revenue(spark, sf_dir):
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q17")
    table(spark, sf_dir, "part").createOrReplaceTempView("part_q17")
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price,
               COUNT(*) AS n
        FROM lineitem_q17 JOIN part_q17 ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
          AND l_quantity < (SELECT 0.5 * AVG(CAST(l2.l_quantity AS DECIMAL(38,6)))
                            FROM lineitem_q17 l2 WHERE l2.l_partkey = l_partkey)
        """
    )


@query(
    "q8_market_share",
    """
    SELECT order_year,
           CAST(SUM(CASE WHEN nation = 'CHINA' THEN volume_dec
                         ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
             / CAST(SUM(volume_dec) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)) AS volume_dec,
             n_name AS nation
      FROM lineitem JOIN orders   ON l_orderkey = o_orderkey
                    JOIN supplier ON l_suppkey = s_suppkey
                    JOIN nation   ON s_nationkey = n_nationkey
    ) all_nations
    GROUP BY order_year
    """,
    doc="TPC-H Q8 shape: market-share ratio per year (conditional "
    "decimal sums, final ratio via their deterministic double images).",
)
def q8_market_share(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    vol = dec6(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    china_vol = F.when(F.col("n_name") == "CHINA", vol).otherwise(dec6(F.lit(0)))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            (F.sum(china_vol).cast("double") / F.sum(vol).cast("double")).alias("mkt_share")
        )
    )


# --------------------------------------------------------------------------
# Derived-schema TPC-H shapes (Q2/Q11/Q20/Q21). The driver testdata has no
# partsupp table and no commit/receipt dates, so the four remaining TPC-H
# query SHAPES are expressed over views derived DETERMINISTICALLY from the
# base tables with integer arithmetic both engines compute bit-identically
# (residue equi-join for part↔supplier pairs, modular day offsets for the
# missing dates). The derivation is part of the query text on BOTH sides,
# so the oracle still verifies the shape end-to-end: correlated-min
# rewrite, scalar-threshold HAVING, decorrelated quantity subquery, and
# EXISTS/NOT-EXISTS self-joins.
# --------------------------------------------------------------------------

_PARTSUPP_SQL = """
    SELECT p_partkey AS ps_partkey, s_suppkey AS ps_suppkey,
           CAST((p_partkey * 7 + s_suppkey * 13) % 999 + 1 AS INTEGER) AS ps_availqty,
           CAST(((p_partkey * 31 + s_suppkey * 17) % 10000) / 100.0 AS DOUBLE) AS ps_supplycost
    FROM part JOIN supplier ON (p_partkey % 25) = ((25 - s_suppkey % 25) % 25)
"""


def _partsupp(spark, sf_dir):
    """Derived partsupp: each part pairs with the ~4 suppliers in its
    key-residue class (an EQUI-join — never a filtered cross join, so
    the derivation itself is scale-safe), availqty/supplycost from
    modular integer arithmetic (bit-identical in DuckDB)."""
    p = table(spark, sf_dir, "part").select(
        "p_partkey", (F.col("p_partkey") % 25).cast("int").alias("_m")
    )
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey", ((25 - F.col("s_suppkey") % 25) % 25).cast("int").alias("_m")
    )
    return p.join(F.broadcast(s), "_m").select(
        F.col("p_partkey").alias("ps_partkey"),
        F.col("s_suppkey").alias("ps_suppkey"),
        ((F.col("p_partkey") * 7 + F.col("s_suppkey") * 13) % 999 + 1)
        .cast("int")
        .alias("ps_availqty"),
        (((F.col("p_partkey") * 31 + F.col("s_suppkey") * 17) % 10000) / F.lit(100.0))
        .cast("double")
        .alias("ps_supplycost"),
    )


@query(
    "q2_min_cost_supplier",
    f"""
    WITH partsupp AS ({_PARTSUPP_SQL}),
    eligible AS (
      SELECT ps_partkey, ps_supplycost, s_acctbal, s_name, n_name
      FROM partsupp
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
    ),
    minc AS (
      SELECT ps_partkey, MIN(ps_supplycost) AS min_cost
      FROM eligible GROUP BY ps_partkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type, ps_supplycost
    FROM eligible
    JOIN minc ON eligible.ps_partkey = minc.ps_partkey
             AND ps_supplycost = min_cost
    JOIN part ON p_partkey = eligible.ps_partkey AND p_size <= 10
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
    """,
    doc="TPC-H Q2 shape over the derived partsupp: correlated MIN "
    "subquery decorrelated into a grouped-min + equality join (the "
    "rewrite Catalyst and every planner performs); region dims "
    "broadcast; deterministic total order with unique tiebreakers "
    "under the LIMIT.",
)
def q2_min_cost_supplier(spark, sf_dir):
    ps = _partsupp(spark, sf_dir)
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    eligible = (
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("ps_partkey", "ps_supplycost", "s_acctbal", "s_name", "n_name")
    )
    minc = eligible.groupBy("ps_partkey").agg(F.min("ps_supplycost").alias("min_cost"))
    return (
        eligible.join(minc, ["ps_partkey"])
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .join(p, F.col("ps_partkey") == p.p_partkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type", "ps_supplycost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q11_important_stock",
    f"""
    WITH partsupp AS ({_PARTSUPP_SQL}),
    nation_ps AS (
      SELECT ps_partkey,
             CAST(ps_supplycost * ps_availqty AS DECIMAL(38,6)) AS v
      FROM partsupp
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_7'
    )
    SELECT ps_partkey, CAST(SUM(v) AS DOUBLE) AS value
    FROM nation_ps GROUP BY ps_partkey
    HAVING SUM(v) * 10000 > (SELECT SUM(v) FROM nation_ps)
    """,
    doc="TPC-H Q11 shape over the derived partsupp: grouped decimal "
    "value sums filtered by a scalar-subquery threshold. The fraction "
    "compare is kept exact by multiplying the group sum by 10000 "
    "instead of multiplying the total by 0.0001 (decimal x integer is "
    "exact in both engines; a double 0.0001 would not be).",
)
def q11_important_stock(spark, sf_dir):
    ps = _partsupp(spark, sf_dir)
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    nation_ps = (
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("ps_partkey", dec6(F.col("ps_supplycost") * F.col("ps_availqty")).alias("v"))
    )
    total = nation_ps.agg(F.sum("v").alias("_total"))
    return (
        nation_ps.groupBy("ps_partkey")
        .agg(F.sum("v").alias("_value"))
        .join(F.broadcast(total))
        .filter(F.col("_value") * 10000 > F.col("_total"))
        .select("ps_partkey", F.col("_value").cast("double").alias("value"))
    )


@query(
    "q20_excess_stock_suppliers",
    f"""
    WITH partsupp AS ({_PARTSUPP_SQL}),
    agg AS (
      SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(38,6))) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_partkey, l_suppkey
    )
    SELECT DISTINCT s_suppkey, s_name, s_acctbal
    FROM supplier JOIN (
      SELECT ps_suppkey FROM partsupp
      JOIN part ON p_partkey = ps_partkey AND p_name LIKE 'small%'
      JOIN agg ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
      WHERE CAST(ps_availqty * 2 AS DECIMAL(38,6)) > qty
    ) x ON s_suppkey = ps_suppkey
    """,
    doc="TPC-H Q20 shape over the derived partsupp: the correlated "
    "half-of-shipped-quantity subquery decorrelated into a grouped "
    "lineitem aggregate joined back on (part, supplier); the 0.5x "
    "compare runs as availqty*2 > qty so it stays in exact decimals. "
    "Spark side is a left-semi join (no DISTINCT needed).",
)
def q20_excess_stock_suppliers(spark, sf_dir):
    ps = _partsupp(spark, sf_dir)
    s = table(spark, sf_dir, "supplier")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    agg = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(dec6(F.col("l_quantity"))).alias("qty")
    )
    excess = (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(agg, (ps.ps_partkey == agg.l_partkey) & (ps.ps_suppkey == agg.l_suppkey))
        .filter((F.col("ps_availqty") * 2).cast(DEC) > F.col("qty"))
        .select("ps_suppkey")
    )
    return s.join(excess, s.s_suppkey == excess.ps_suppkey, "left_semi").select(
        "s_suppkey", "s_name", "s_acctbal"
    )


_DERIVED_DATES_SQL = """
    SELECT l_orderkey, l_suppkey,
           l_shipdate + INTERVAL 1 DAY * ((l_orderkey + l_linenumber) % 30) AS l_commitdate,
           l_shipdate + INTERVAL 1 DAY * ((l_partkey + l_linenumber) % 45) AS l_receiptdate
    FROM lineitem
"""


@query(
    "q21_suppliers_kept_waiting",
    f"""
    WITH li AS ({_DERIVED_DATES_SQL})
    SELECT s_name, COUNT(*) AS numwait
    FROM li l1
    JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
    JOIN supplier ON s_suppkey = l1.l_suppkey
    JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
    WHERE l1.l_receiptdate > l1.l_commitdate
      AND EXISTS (SELECT 1 FROM li l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM li l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_receiptdate > l3.l_commitdate)
    GROUP BY s_name
    """,
    doc="TPC-H Q21 shape with modular-offset derived commit/receipt "
    "dates (integer day arithmetic — bit-identical in both engines): "
    "EXISTS as a left-semi self-join, NOT EXISTS as a left-anti "
    "self-join, both keyed on l_orderkey so they shuffle once on the "
    "same key.",
)
def q21_suppliers_kept_waiting(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.expr(
            "l_shipdate + make_interval(0, 0, 0, CAST((l_orderkey + l_linenumber) % 30 AS INT), 0, 0, 0)"
        ).alias("l_commitdate"),
        F.expr(
            "l_shipdate + make_interval(0, 0, 0, CAST((l_partkey + l_linenumber) % 45 AS INT), 0, 0, 0)"
        ).alias("l_receiptdate"),
    )
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    late = li.filter(F.col("l_receiptdate") > F.col("l_commitdate"))
    l1 = (
        late.join(o, late.l_orderkey == o.o_orderkey)
        .join(s, late.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("l_orderkey", "l_suppkey", "s_name")
    )
    others = li.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_suppkey").alias("_sk")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_suppkey").alias("_sk")
    )
    with_other = l1.join(
        others,
        (l1.l_orderkey == others._ok) & (l1.l_suppkey != others._sk),
        "left_semi",
    )
    sole_late = with_other.join(
        late_others,
        (with_other.l_orderkey == late_others._ok)
        & (with_other.l_suppkey != late_others._sk),
        "left_anti",
    )
    return sole_late.groupBy("s_name").agg(F.count(F.lit(1)).alias("numwait"))
