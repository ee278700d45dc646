"""Relational operator battery over the TPC-H-ish star schema.

Covers SURVEY.md §2b rows: filters/predicates, equi/broadcast/semi/
anti joins, hash aggregation (+distinct, rollup), window functions,
sort/limit/top-k, set operations, and scalar string/date/math
expressions. The reference implements none of these (SURVEY.md §2b —
its only operators are a streaming passthrough and a pandas prep job,
reference streaming/spark_processor.py:28-47 and
kafka/sort_the_source.py:13-38); the engine supplies them with
built-in Spark so Catalyst gets full pushdown/pruning/reordering.

Scale notes per query are inline: which side broadcasts, where the
shuffles are, and why the plan survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from bigdata_riveranalysis_spark.functions import exact as EX
from bigdata_riveranalysis_spark.plans import scale as SC
from bigdata_riveranalysis_spark.plans.registry import query
from bigdata_riveranalysis_spark.sources.tables import load_table


def _r4(col: F.Column) -> F.Column:
    """Round a double aggregate to 4 decimals (oracle-comparison policy).

    For SUMs/AVGs of fixed-point (money) columns over large unordered
    groups, prefer the exact integer formulations in functions.exact —
    round(double_agg, 4) flips between engines when the true aggregate
    sits on a half-boundary (see functions.exact docstring). _r4 stays
    for min/max/single-value rounding and small ordered frames.
    """
    return F.round(col, 4)


# Fixed-point integer views of the money columns (exact longs;
# 2-decimal corpus property pinned in tests/test_sinks_and_plans.py).
_PRICE_C = "l_extendedprice"
_REV_INT = lambda: EX.cents(_PRICE_C) * (F.lit(100) - EX.cents("l_discount"))  # noqa: E731  scale 4
_REV_INT_SQL = f"{EX.cents_sql('l_extendedprice')} * (100 - {EX.cents_sql('l_discount')})"


# --------------------------------------------------------------------------
# Flagship
# --------------------------------------------------------------------------

@query(
    "flagship_revenue_by_segment",
    oracle=f"""
    SELECT c_mktsegment,
           {EX.sum_round4_sql(_REV_INT_SQL, 4)}              AS revenue,
           count(DISTINCT o_orderkey)                        AS n_orders
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY c_mktsegment
    ORDER BY revenue DESC
    """,
)
def flagship_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: market-segment revenue over a 3-year order window.

    scan → pushed filter → customer join → fact-fact shuffle join →
    hash agg → sort. The one query that exercises the whole
    relational core (SURVEY.md §7 phase 0 minimum slice).

    The customer join carries NO broadcast hint: customer scales with
    SF (it is deliberately absent from tables.DIM_TABLES), so a
    forced F.broadcast OOMs at the scale these notes claim to survive
    (review finding). AQE broadcasts it at bench SFs on its own
    runtime size estimate and degrades to a shuffle join when it
    outgrows the threshold — the decision belongs to the optimizer,
    which actually sees the size. Same policy at the other two
    customer joins (q3's segment filter side, topk's unfiltered dim).
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            EX.sum_round4(_REV_INT(), 4).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy(F.desc("revenue"))
    )


# --------------------------------------------------------------------------
# Aggregation
# --------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {EX.sum_round4_sql(EX.cents_sql('l_quantity'), 2)}               AS sum_qty,
           {EX.sum_round4_sql(EX.cents_sql('l_extendedprice'), 2)}          AS sum_base_price,
           {EX.sum_round4_sql(_REV_INT_SQL, 4)}                             AS sum_disc_price,
           {EX.sum_round4_sql(f"{_REV_INT_SQL} * (100 + {EX.cents_sql('l_tax')})", 6)} AS sum_charge,
           {EX.avg_round4_sql(EX.cents_sql('l_quantity'), 2)}               AS avg_qty,
           {EX.avg_round4_sql(EX.cents_sql('l_extendedprice'), 2)}          AS avg_price,
           {EX.avg_round4_sql(EX.cents_sql('l_discount'), 2)}               AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: scan → filter → hash agg.

    Scale: single shuffle on a 6-value grouping key with map-side
    partial aggregation, so the shuffle moves O(groups × partitions)
    rows regardless of input size. Filter + column pruning push into
    the parquet scan.

    Integer headroom: the scale-6 charge term is ~1e11 per row, so a
    per-group LONG sum would overflow around ~9e7 rows/group ≈ sf30 —
    Spark's ANSI sum raising where DuckDB silently promotes
    BIGINT→HUGEINT. Closed in r6: functions.exact sums on
    DECIMAL(38,0) (HUGEINT-equivalent headroom, same floor/round
    identities, measured cost in exact.wide_sum's docstring; overflow
    pinned by tests/test_r6_operators.py::test_wide_sum_survives_long_overflow).
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Fixed-point: revenue terms as exact integer products (cents ×
    # basis-point factors) so every aggregate is order-independent
    # and engine-identical (functions.exact).
    charge_int = _REV_INT() * (F.lit(100) + EX.cents("l_tax"))  # scale 6
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            EX.sum_round4(EX.cents("l_quantity"), 2).alias("sum_qty"),
            EX.sum_round4(EX.cents("l_extendedprice"), 2).alias("sum_base_price"),
            EX.sum_round4(_REV_INT(), 4).alias("sum_disc_price"),
            EX.sum_round4(charge_int, 6).alias("sum_charge"),
            EX.avg_round4(EX.cents("l_quantity"), 2).alias("avg_qty"),
            EX.avg_round4(EX.cents("l_extendedprice"), 2).alias("avg_price"),
            EX.avg_round4(EX.cents("l_discount"), 2).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "agg_distinct_by_priority",
    oracle=f"""
    SELECT o_orderpriority,
           count(*)                    AS n_orders,
           count(DISTINCT o_custkey)   AS n_customers,
           {EX.sum_round4_sql(EX.cents_sql('o_totalprice'), 2)} AS total_price,
           round(max(o_totalprice), 4) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_distinct_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregation with an exact COUNT(DISTINCT) expansion.

    Scale: Catalyst rewrites count(distinct) into a two-phase
    expand+agg; for dashboards at 100 TB prefer
    approx_count_distinct (HLL) — kept exact here because the oracle
    must match bit-for-bit.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        EX.sum_round4(EX.cents("o_totalprice"), 2).alias("total_price"),
        _r4(F.max("o_totalprice")).alias("max_price"),
    )


@query(
    "rollup_pricing",
    oracle=f"""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*)                      AS n_items,
           {EX.sum_round4_sql(EX.cents_sql('l_quantity'), 2)} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (grand total included).

    NULL group markers are coalesced to 'ALL' so the output is
    engine-agnostic (no real NULLs exist in these columns).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_items"), EX.sum_round4(EX.cents("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "sum_qty",
        )
    )


@query(
    "cube_status_priority",
    oracle=f"""
    SELECT coalesce(o_orderstatus, 'ALL')    AS orderstatus,
           coalesce(o_orderpriority, 'ALL')  AS orderpriority,
           count(*)                          AS n_orders,
           {EX.avg_round4_sql(EX.cents_sql('o_totalprice'), 2)} AS avg_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dimensions (all 4 grouping sets)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), EX.avg_round4(EX.cents("o_totalprice"), 2).alias("avg_price"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n_orders",
            "avg_price",
        )
    )


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------

@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {EX.sum_round4_sql(_REV_INT_SQL, 4)}              AS revenue,
           strftime(o_orderdate, '%Y-%m-%d')                 AS orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: 3-way join → agg → top-10 (unique tie-break key).

    Scale: customer (filtered on segment) broadcasts against orders;
    orders⋈lineitem is the one real shuffle and both sides shuffle on
    the same key (orderkey), so AQE can skew-split it. The date
    filters push into both fact scans before the join.
    """
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(EX.sum_round4(_REV_INT(), 4).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_region_volume",
    oracle=f"""
    SELECT n_name,
           {EX.sum_round4_sql(_REV_INT_SQL, 4)}              AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way join: local-supplier revenue by nation.

    Scale: region/nation/supplier are bounded dimensions → broadcast
    (no shuffle). The only big shuffle is lineitem⋈orders on
    orderkey. Join order: filter orders by date first so the fact-fact
    join sees the reduced side.
    """
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")

    asia_cust = (
        cust.join(F.broadcast(nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)),
                  cust.c_nationkey == F.col("n_nationkey"))
        .select("c_custkey", "c_nationkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(asia_cust, orders.o_custkey == asia_cust.c_custkey)
        .join(F.broadcast(supp), (li.l_suppkey == supp.s_suppkey) & (supp.s_nationkey == F.col("c_nationkey")))
        .groupBy("n_name")
        .agg(EX.sum_round4(_REV_INT(), 4).alias("revenue"))
    )


@query(
    "join_dims_customer_geo",
    oracle=f"""
    SELECT r_name,
           n_name,
           count(*)                   AS n_customers,
           {EX.avg_round4_sql(EX.cents_sql('c_acctbal'), 2)} AS avg_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def join_dims_customer_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join of a fact against two broadcast dimensions.

    Scale: nation (25 rows) and region (5 rows) broadcast at any SF —
    zero shuffles before the final small agg.
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"), EX.avg_round4(EX.cents("c_acctbal"), 2).alias("avg_acctbal"))
    )


@query(
    "semi_join_urgent_customers",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    GROUP BY c_mktsegment
    """,
)
def semi_join_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers with ≥1 urgent order.

    Scale: semi-join never multiplies rows, and the probe side only
    carries the join key — cheaper than join+distinct at any SF.
    """
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "anti_join_parts_never_shipped",
    oracle="""
    SELECT p_partkey, p_name
    FROM part p
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    """,
)
def anti_join_parts_never_shipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): parts that never appear in lineitem."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return part.join(li, part.p_partkey == li.l_partkey, "left_anti").select("p_partkey", "p_name")


@query(
    "full_outer_nation_wealth",
    oracle="""
    WITH c AS (
        SELECT c_nationkey AS k, count(*) AS n_rich_customers
        FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey
    ),
    s AS (
        SELECT s_nationkey AS k, count(*) AS n_rich_suppliers
        FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey
    )
    SELECT n.n_name,
           coalesce(c.n_rich_customers, 0) AS n_rich_customers,
           coalesce(s.n_rich_suppliers, 0) AS n_rich_suppliers
    FROM c FULL OUTER JOIN s ON c.k = s.k
    JOIN nation n ON n.n_nationkey = coalesce(c.k, s.k)
    """,
)
def full_outer_nation_wealth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: per-nation counts of high-balance customers
    vs high-balance suppliers, keeping nations present on either side
    only (the filters create genuinely one-sided rows). Completes the
    join-type surface next to the semi/anti/as-of/range queries.

    Scale: both inputs aggregate BEFORE the join, so the full-outer
    operates on ≤ |nations| rows per side — a sort-merge join of two
    tiny aggregates (full outer cannot broadcast: either side may
    need to emit unmatched rows, so Spark correctly refuses a
    broadcast strategy) — and the nation dim joins broadcast.
    """
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    c = (
        cust.filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("ck"))
        .agg(F.count("*").alias("n_rich_customers"))
    )
    s = (
        supp.filter(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("sk"))
        .agg(F.count("*").alias("n_rich_suppliers"))
    )
    both = c.join(s, c.ck == s.sk, "full_outer").select(
        F.coalesce(c.ck, s.sk).alias("k"),
        F.coalesce("n_rich_customers", F.lit(0)).alias("n_rich_customers"),
        F.coalesce("n_rich_suppliers", F.lit(0)).alias("n_rich_suppliers"),
    )
    return both.join(
        F.broadcast(nation), both.k == nation.n_nationkey
    ).select("n_name", "n_rich_customers", "n_rich_suppliers")


# --------------------------------------------------------------------------
# Filters / projection
# --------------------------------------------------------------------------

@query(
    "filter_project_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS net_price
    FROM lineitem
    WHERE l_quantity > 45
      AND l_returnflag = 'R'
      AND l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
    """,
)
def filter_project_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive filter + narrow projection — the pushdown probe.

    Scale: all three predicates and the 5-column ReadSchema land in
    the parquet scan (verified via .explain PushedFilters); no
    shuffle at all.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_quantity") > 45)
            & (F.col("l_returnflag") == "R")
            & (F.col("l_shipdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            _r4(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        )
    )


# --------------------------------------------------------------------------
# Window functions / top-k
# --------------------------------------------------------------------------

@query(
    "window_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_spend,
           row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey)                     AS order_seq
    FROM orders
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer spend + order sequence number.

    Deterministic: ROWS frame with a unique (orderdate, orderkey)
    ordering. Scale: one shuffle on o_custkey; frame evaluation is
    streaming within each partition.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        _r4(F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))).alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
    )


@query(
    "topk_orders_per_segment",
    oracle="""
    SELECT c_mktsegment, o_orderkey, round(o_totalprice, 4) AS totalprice, rnk
    FROM (
        SELECT c_mktsegment, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders JOIN customer ON o_custkey = c_custkey
    )
    WHERE rnk <= 3
    """,
)
def topk_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by value per market segment (row_number pattern).

    Scale: Spark pushes a per-partition top-k (WindowGroupLimit) below
    the shuffle, so only k rows per segment per map task move.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_mktsegment", "o_orderkey", _r4(F.col("o_totalprice")).alias("totalprice"), "rnk")
    )


@query(
    "window_lag_price_delta",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(o_totalprice - lag(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 4) AS price_delta
    FROM orders
    """,
)
def window_lag_price_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG: spend delta between consecutive orders of a customer."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        _r4(F.col("o_totalprice") - F.lag("o_totalprice").over(w)).alias("price_delta"),
    )


@query(
    "window_rank_suite",
    oracle="""
    SELECT o_custkey, o_orderkey,
           rank()         OVER w AS rnk,
           dense_rank()   OVER w AS drnk,
           ntile(4)       OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume
    FROM orders
    WHERE o_custkey < 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function surface over one window: rank /
    dense_rank / ntile / percent_rank / cume_dist (row_number, lag,
    top-k live in the sibling window queries). One shuffle on the
    partition key serves all five — Spark evaluates them in a single
    Window operator, which is the point: adding a ranking column to
    an existing window is free at 100 TB, adding a new partition key
    is another full exchange."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


#: map_functions_battery: a month is "busy" for a (priority, year)
#: when it booked more than this many orders. Scale-free correctness
#: knob — any value exercises map_filter; 40 splits the sf0.01 cells
#: (~35 orders/cell mean) into a real mix of both outcomes.
MAP_BUSY_ORDERS = 40


@query(
    "map_functions_battery",
    oracle=f"""
    WITH mc AS (
        SELECT o_orderpriority AS priority,
               CAST(EXTRACT(year  FROM o_orderdate) AS INTEGER) AS yr,
               CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS mon,
               count(*) AS cnt,
               count(DISTINCT o_custkey) AS ncust
        FROM orders GROUP BY 1, 2, 3
    )
    SELECT priority, yr,
           count(*) AS n_months,
           string_agg(CAST(mon AS VARCHAR), ',' ORDER BY mon) AS months_csv,
           CAST(sum(cnt) AS BIGINT)                           AS n_orders,
           CAST(sum(CASE WHEN cnt > {MAP_BUSY_ORDERS} THEN 1 ELSE 0 END) AS BIGINT)
                                                              AS n_busy_months,
           CAST(sum(cnt) * 2 AS BIGINT)                       AS n_orders_x2,
           CAST(coalesce(sum(CASE WHEN mon = 3 THEN cnt END), 0) AS BIGINT)
                                                              AS march_orders,
           CAST(coalesce(sum(CASE WHEN mon = 3 THEN cnt END), 0) AS BIGINT)
                                                              AS march_orders_shifted,
           CAST(sum(cnt - ncust) AS BIGINT)                   AS n_repeat_orders
    FROM mc GROUP BY 1, 2
    """,
)
def map_functions_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type scalar-function battery — the one §2b scalar
    sub-category ("string, math, date, array, MAP, JSON") with no
    checked query until r13 (VERDICT r11/r12 task): per (order
    priority, year), the month→order-count and month→distinct-
    customer maps are BUILT with map_from_entries and then consumed
    through the whole map surface — map_keys (sorted month list),
    map_values + aggregate (total orders), map_filter (busy months by
    value, exercising the (k, v) lambda), transform_values (doubled
    counts), transform_keys (shifted lookup keys; result keys stay
    unique, so the default EXCEPTION dedup policy is never tripped),
    element_at (March lookup, NULL→0 on absent key), and map_zip_with
    (orders minus distinct customers per month = repeat orders).

    Determinism: map entry order follows the array_sort'd
    collect_list, so map_keys is ascending and every derived scalar
    is order-free (sums, sizes, sorted joins) — the map itself never
    reaches the output (oracle-determinism rule: maps render to
    sorted scalars for hashing). All values are integer-exact.

    Scale: one groupBy to month grain, one to (priority, year) —
    both partial-agg friendly; the per-row map work is codegen'd
    higher-order expressions, embarrassingly parallel. The maps here
    are bounded (≤12 entries) by construction — the pattern a 100 TB
    pipeline uses for per-key feature bundles riding through joins as
    one column instead of twelve.
    """
    orders = load_table(spark, sf_dir, "orders")
    mc = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mon"),
    ).agg(
        F.count("*").alias("cnt"),
        F.countDistinct("o_custkey").alias("ncust"),
    )
    maps = mc.groupBy("priority", "yr").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("mon", "cnt")))
        ).alias("cnt_m"),
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("mon", "ncust")))
        ).alias("cust_m"),
    )

    def sum_vals(m: F.Column) -> F.Column:
        return F.aggregate(
            F.map_values(m), F.lit(0).cast("long"), lambda acc, v: acc + v
        )

    repeat_m = F.map_zip_with("cnt_m", "cust_m", lambda k, a, b: a - b)
    shifted = F.transform_keys("cnt_m", lambda k, v: k + 100)
    return maps.select(
        "priority",
        "yr",
        F.size("cnt_m").cast("long").alias("n_months"),
        F.array_join(
            F.transform(F.map_keys("cnt_m"), lambda k: k.cast("string")), ","
        ).alias("months_csv"),
        sum_vals(F.col("cnt_m")).alias("n_orders"),
        F.size(
            F.map_filter("cnt_m", lambda k, v: v > F.lit(MAP_BUSY_ORDERS))
        ).cast("long").alias("n_busy_months"),
        sum_vals(F.transform_values("cnt_m", lambda k, v: v * 2)).alias(
            "n_orders_x2"
        ),
        F.coalesce(
            F.element_at(F.col("cnt_m"), F.lit(3)), F.lit(0).cast("long")
        ).alias("march_orders"),
        F.coalesce(
            F.element_at(shifted, F.lit(103)), F.lit(0).cast("long")
        ).alias("march_orders_shifted"),
        sum_vals(repeat_m).alias("n_repeat_orders"),
    )


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------

@query(
    "setop_nations_cust_and_supp",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def setop_nations_cust_and_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nations having both customers and suppliers."""
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp)


@query(
    "setop_union_all_keys",
    oracle="""
    WITH ua AS (
        SELECT nationkey, count(*) AS n_all FROM (
            SELECT c_nationkey AS nationkey FROM customer
            UNION ALL
            SELECT s_nationkey AS nationkey FROM supplier
        ) GROUP BY nationkey
    ),
    co AS (
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT s_nationkey AS nationkey FROM supplier
    ),
    ea AS (
        SELECT nationkey, count(*) AS n_excess FROM (
            SELECT c_nationkey AS nationkey FROM customer
            EXCEPT ALL
            SELECT s_nationkey AS nationkey FROM supplier
        ) GROUP BY nationkey
    )
    SELECT ua.nationkey, ua.n_all,
           (co.nationkey IS NOT NULL) AS cust_only,
           CAST(coalesce(ea.n_excess, 0) AS BIGINT) AS n_cust_excess
    FROM ua LEFT JOIN co ON ua.nationkey = co.nationkey
            LEFT JOIN ea ON ua.nationkey = ea.nationkey
    """,
)
def setop_union_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-op triptych per nation key: UNION ALL presence counts,
    EXCEPT (set semantics — nations with customers but NO suppliers,
    the genuine ``subtract`` operator), and EXCEPT ALL (bag semantics
    — each nation's surplus of customer rows over supplier rows, the
    genuine ``exceptAll`` operator). Folding all three into one
    registered query gives EXCEPT an oracle-checked result without
    spending a registry slot.

    The operators are the REAL set-op plan nodes, not agg rewrites —
    the point is exercising Spark's EXCEPT [ALL] execution: subtract
    plans a left-anti aggregate, exceptAll a replicated union trick;
    both shuffle on the full row (here: the key), same as the UNION
    ALL count. The three legs then meet in two left joins on a
    nation-cardinality frame — broadcast-sized at any SF.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    n_all = cust.unionByName(supp).groupBy("nationkey").agg(
        F.count("*").alias("n_all")
    )
    cust_only = cust.subtract(supp).withColumn("cust_only", F.lit(True))
    n_excess = cust.exceptAll(supp).groupBy("nationkey").agg(
        F.count("*").alias("n_excess")
    )
    return (
        n_all.join(cust_only, ["nationkey"], "left")
        .join(n_excess, ["nationkey"], "left")
        .select(
            "nationkey",
            "n_all",
            F.coalesce(F.col("cust_only"), F.lit(False)).alias("cust_only"),
            F.coalesce(F.col("n_excess"), F.lit(0)).cast("long").alias("n_cust_excess"),
        )
    )


# --------------------------------------------------------------------------
# Scalar functions
# --------------------------------------------------------------------------

@query(
    "scalar_functions_part",
    oracle="""
    SELECT p_partkey,
           upper(p_name)                                    AS name_upper,
           substr(p_name, 1, 4)                             AS name_prefix,
           length(p_name)                                   AS name_len,
           replace(p_type, 'ECONOMY', 'ECON')               AS type_short,
           concat(p_brand, ':', p_type)                     AS brand_type,
           abs(p_size - 25)                                 AS size_dev,
           round(sqrt(p_retailprice), 4)                    AS price_sqrt,
           round(ln(p_retailprice + 1), 4)                  AS price_ln,
           CASE WHEN p_size < 10 THEN 'small'
                WHEN p_size < 30 THEN 'medium'
                ELSE 'large' END                            AS size_band
    FROM part
    """,
)
def scalar_functions_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string/math/conditional battery (SURVEY.md §2b scalar row).

    All expressions are JVM-codegen built-ins — zero Python in the
    row path.
    """
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 4).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_type"), F.lit("ECONOMY"), F.lit("ECON")).alias("type_short"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        _r4(F.sqrt("p_retailprice")).alias("price_sqrt"),
        _r4(F.log(F.col("p_retailprice") + 1)).alias("price_ln"),
        F.when(F.col("p_size") < 10, "small").when(F.col("p_size") < 30, "medium").otherwise("large").alias("size_band"),
    )


@query(
    "scalar_date_functions",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate)                       AS order_year,
           month(o_orderdate)                      AS order_month,
           dayofweek(o_orderdate)                  AS order_dow,
           strftime(o_orderdate, '%Y-%m-%d')       AS order_date_str,
           strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS due_date_str
    FROM orders
    WHERE o_orderstatus = 'O'
    """,
)
def scalar_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date extraction/arithmetic/formatting battery.

    Note: DuckDB dayofweek = Sunday 0; Spark dayofweek = Sunday 1 —
    normalized by subtracting 1 on the Spark side.
    """
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        (F.dayofweek("o_orderdate") - 1).alias("order_dow"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"), "yyyy-MM-dd").alias("due_date_str"),
    )


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           count(*)                    AS n_orders,
           {EX.sum_round4_sql(EX.cents_sql('o_totalprice'), 2)} AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube —
    SURVEY.md §2b aggregations row): per-status totals, per-priority
    totals, and the grand total in ONE pass.

    Scale: one shuffle; Spark expands the sets map-side (Expand node)
    so the input is still read once — the win over three separate
    aggregations is two saved scans.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count("*").alias("n_orders"),
        EX.sum_round4(EX.cents("o_totalprice"), 2).alias("total_price"),
    )


@query(
    "agg_stats_corr",
    oracle=f"""
    SELECT l_returnflag,
           {EX.round_pz_sql("corr(l_quantity, l_extendedprice)", 4)} AS qty_price_corr,
           {EX.round_pz_sql("covar_samp(l_quantity, l_extendedprice)", 4)} AS qty_price_covar,
           {EX.round_pz_sql("var_samp(l_discount)", 4)} AS discount_var,
           {EX.round_pz_sql("skewness(l_quantity)", 4)} AS qty_skew
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate battery: correlation, covariance,
    variance, skewness per return flag — single-pass moment
    aggregates (no self-join, no window).

    Estimator alignment: Spark's skewness is the POPULATION g1 while
    DuckDB's is the bias-adjusted SAMPLE G1 = g1·√(n(n−1))/(n−2) —
    systematically ~1/n apart, which round-4 only hides while no
    group's value sits near a 0.00005 boundary (a data-dependent
    coin flip). The engine applies the adjustment explicitly so both
    sides estimate the SAME quantity; the residual difference is then
    ulp-level, which round-4 absorbs with ~1e-11 boundary exposure.

    Signed zero (r9, caught by the sf0.001 STRICT sweep): a rounded
    value of a signed statistic can land on IEEE −0.0 in one engine
    and +0.0 in the other (here qty_skew: DuckDB −0.0 vs Spark 0.0 at
    sf0.001 — skew of a symmetric tiny group). ``+ 0.0`` after the
    round normalizes −0.0 → +0.0 on BOTH sides (IEEE: −0.0 + 0.0 =
    +0.0), so a repr-style comparator can't see a representation-only
    difference. Applied to every rounded signed float this query
    emits.
    """
    li = load_table(spark, sf_dir, "lineitem")
    n = F.count("*")
    g1_to_G1 = F.sqrt(n * (n - F.lit(1))) / (n - F.lit(2))
    return li.groupBy("l_returnflag").agg(
        EX.round_pz(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        EX.round_pz(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("qty_price_covar"),
        EX.round_pz(F.var_samp("l_discount"), 4).alias("discount_var"),
        EX.round_pz(F.skewness("l_quantity") * g1_to_G1, 4).alias("qty_skew"),
    )


@query(
    "agg_ordered_collect",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
           count(*)                                AS n_nations
    FROM nation
    GROUP BY n_regionkey
    """,
)
def agg_ordered_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: collect_list is unordered by
    contract, so determinism comes from array_sort before the join —
    the canonical Spark shape for DuckDB's ORDER BY inside
    string_agg."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations_csv"),
        F.count("*").alias("n_nations"),
    )


@query(
    "range_join_order_quarters",
    oracle=f"""
    WITH quarters AS (
        SELECT q.q_start, q.q_start + INTERVAL 3 MONTH AS q_end
        FROM (SELECT unnest(generate_series(DATE '2023-01-01', DATE '2024-10-01',
                                            INTERVAL 3 MONTH)) AS q_start) q
    )
    SELECT strftime(q_start, '%Y-%m-%d') AS quarter_start,
           count(o_orderkey)             AS n_orders,
           {EX.sum_round4_sql(EX.cents_sql('o_totalprice'), 2)} AS total_price
    FROM quarters LEFT JOIN orders
      ON o_orderdate >= q_start AND o_orderdate < q_end
    GROUP BY q_start
    """,
)
def range_join_order_quarters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-containment) join: orders against a generated
    quarter dimension, non-equi predicate.

    Scale: the tiny interval dimension broadcasts, so the non-equi
    join is a broadcast nested loop over a handful of intervals —
    the fact side never shuffles. If the interval side were large,
    the plan moves to bucketing both sides by a coarse time bucket
    and joining on (bucket, range-predicate).
    """
    orders = load_table(spark, sf_dir, "orders")
    quarters = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit("2023-01-01").cast("date"),
                    F.lit("2024-10-01").cast("date"),
                    F.expr("INTERVAL 3 MONTHS"),
                )
            ).alias("q_start")
        )
        .select("q_start", F.add_months("q_start", 3).alias("q_end"))
    )
    joined = F.broadcast(quarters).join(
        orders,
        (F.col("o_orderdate") >= F.col("q_start")) & (F.col("o_orderdate") < F.col("q_end")),
        "left",
    )
    return joined.groupBy(
        F.date_format("q_start", "yyyy-MM-dd").alias("quarter_start")
    ).agg(
        F.count("o_orderkey").alias("n_orders"),
        # Exact fixed-point money sum (functions/exact policy) — the
        # raw-double sum here was the one unordered money aggregate
        # left in this file and drifts past the round-4 boundary on
        # large quarter groups (review finding).
        EX.sum_round4(EX.cents("o_totalprice"), 2).alias("total_price"),
    )


@query(
    "approx_distinct_customers",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS exact_customers,
           count(*) AS n_orders,
           (abs(approx_count_distinct(o_custkey) - count(DISTINCT o_custkey))
              <= 0.05 * count(DISTINCT o_custkey)) AS approx_within_5pct
    FROM orders GROUP BY o_orderpriority
    """,
)
def approx_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per order priority — the
    sketch that replaces exact COUNT(DISTINCT) at 100 TB (bounded
    memory, one pass, mergeable partials).

    Tolerance-witness formulation: Spark's HLL++ and DuckDB's HLL are
    different sketches whose raw estimates legitimately differ, so the
    query returns what IS comparable — the exact distinct count plus a
    boolean witness that each engine's OWN sketch lands within 5% of
    its OWN exact value. Both sides are deterministic, so the booleans
    hash-match; rsd=0.02 puts 5% at 2.5σ (verified true at sf0.001/
    0.01/0.1 for every priority group on both engines).

    Plan: two-phase — pre-aggregate to distinct (priority, custkey)
    rows, then count/sketch those. HLL registers depend only on the
    SET of inserted values, so sketching the deduplicated keys yields
    the bit-identical estimate (equality verified against the direct
    formulation), while the plan drops the count-distinct Expand
    (which doubles every input row through the shuffle): measured
    ~2.5× faster, and the first shuffle's partial aggregation now
    shrinks with the duplicate rate.
    """
    orders = load_table(spark, sf_dir, "orders")
    pre = orders.groupBy("o_orderpriority", "o_custkey").agg(F.count("*").alias("cnt"))
    exact = F.count("*")
    approx = F.approx_count_distinct("o_custkey", rsd=0.02)
    return pre.groupBy("o_orderpriority").agg(
        exact.alias("exact_customers"),
        F.sum("cnt").alias("n_orders"),
        (F.abs(approx - exact) <= 0.05 * exact).alias("approx_within_5pct"),
    )


# --------------------------------------------------------------------------
# Subqueries (Catalyst decorrelation) and percentile aggregates
# --------------------------------------------------------------------------

_SUBQ_BRAND_AVG_SQL = f"""
    SELECT p_brand, p_partkey, round(p_retailprice, 4) AS retailprice
    FROM part p
    WHERE 100 * (SELECT count(*) FROM part p2 WHERE p2.p_brand = p.p_brand)
              * {EX.cents_sql('p.p_retailprice')}
        > 105 * (SELECT sum({EX.cents_sql('p2.p_retailprice')})
                 FROM part p2 WHERE p2.p_brand = p.p_brand)
"""


@query("subq_parts_above_brand_avg", oracle=_SUBQ_BRAND_AVG_SQL)
def subq_parts_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries: parts priced >5% above their
    brand's average (5%: the synthetic price spread is tight).
    Catalyst decorrelates these into per-brand aggregates + an
    equi-join (RewriteCorrelatedScalarSubquery, the two subqueries
    over the same group merged by MergeScalarSubqueries) — no per-row
    subquery execution, so the plan is two scans + a broadcast join
    at any scale. The engine runs the exact SQL the oracle runs: the
    point is the optimizer surface, not the syntax.

    The threshold is integer cross-multiplication over exact cents
    (100·n·price > 105·Σprices ⟺ price > 1.05·avg) rather than a
    float `1.05 * avg(...)` compare: the avg is an order-dependent
    double, so a borderline part's MEMBERSHIP could differ between
    engines — a whole-row divergence no rounding absorbs (review
    finding; same class as the zscore query's integer-moment fix).
    """
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_SUBQ_BRAND_AVG_SQL)


_SUBQ_EXISTS_SQL = """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders o2
        WHERE o2.o_custkey = c.c_custkey AND o2.o_orderpriority = '5-LOW'
    )
"""


@query("subq_exists_customer_orders", oracle=_SUBQ_EXISTS_SQL)
def subq_exists_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / NOT EXISTS predicate subqueries: big-spender customers
    with no low-priority orders. Catalyst rewrites them to LEFT SEMI
    and LEFT ANTI joins on o_custkey (RewritePredicateSubquery) — the
    same physical shape as the explicit semi/anti-join queries, shown
    here through the SQL surface a reference user would write.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SUBQ_EXISTS_SQL)


@query(
    "agg_percentiles_lineitem",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of extended price per return
    flag (Spark `percentile` ≡ DuckDB `quantile_cont`, both linear
    interpolation over order statistics).

    Scale note: exact percentile buffers each group's values — fine
    for a handful of groups, wrong for high-cardinality ones; at
    100 TB swap in approx_percentile (t-digest sketch, mergeable
    partials, bounded memory) the same way approx_distinct_customers
    stands in for exact COUNT(DISTINCT).
    """
    li = load_table(spark, sf_dir, "lineitem")
    # One percentile aggregate with an array of fractions: the group's
    # values buffer and sort ONCE, not once per requested percentile.
    ps = F.percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75), F.lit(0.99))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(ps.alias("ps"), F.count("*").alias("n_rows"))
        .select(
            "l_returnflag",
            F.round(F.element_at("ps", 1), 4).alias("p25"),
            F.round(F.element_at("ps", 2), 4).alias("p50"),
            F.round(F.element_at("ps", 3), 4).alias("p75"),
            F.round(F.element_at("ps", 4), 4).alias("p99"),
            "n_rows",
        )
    )


@query(
    "agg_approx_percentiles",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           (abs(approx_quantile(l_extendedprice, 0.25) - quantile_cont(l_extendedprice, 0.25))
              <= 0.05 * quantile_cont(l_extendedprice, 0.25)) AS p25_within_5pct,
           (abs(approx_quantile(l_extendedprice, 0.50) - quantile_cont(l_extendedprice, 0.50))
              <= 0.05 * quantile_cont(l_extendedprice, 0.50)) AS p50_within_5pct,
           (abs(approx_quantile(l_extendedprice, 0.75) - quantile_cont(l_extendedprice, 0.75))
              <= 0.05 * quantile_cont(l_extendedprice, 0.75)) AS p75_within_5pct,
           (abs(approx_quantile(l_extendedprice, 0.99) - quantile_cont(l_extendedprice, 0.99))
              <= 0.05 * quantile_cont(l_extendedprice, 0.99)) AS p99_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) — the 100 TB
    quantile path: bounded memory per group, one pass, mergeable
    partials, accuracy set by the third argument (10000 → ~0.01% rank
    error).

    Tolerance-witness formulation: Spark's GK sketch and DuckDB's
    t-digest produce legitimately different estimates, so the query
    returns per-fraction boolean witnesses that each engine's OWN
    sketch lands within 5% (relative) of its OWN exact interpolated
    percentile. Both sides are deterministic → hash-comparable; the
    exact twin (agg_percentiles_lineitem) carries the exact values.
    """
    li = load_table(spark, sf_dir, "lineitem")
    approx = F.approx_percentile(
        "l_extendedprice",
        F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75), F.lit(0.99)),
        F.lit(10000),
    )
    exact = F.percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75), F.lit(0.99))
    )
    agged = li.groupBy("l_returnflag").agg(
        approx.alias("ap"), exact.alias("ex"), F.count("*").alias("n_rows")
    )

    def _wit(i: int, name: str) -> F.Column:
        a, e = F.element_at("ap", i), F.element_at("ex", i)
        return (F.abs(a - e) <= 0.05 * e).alias(name)

    return agged.select(
        "l_returnflag",
        "n_rows",
        _wit(1, "p25_within_5pct"),
        _wit(2, "p50_within_5pct"),
        _wit(3, "p75_within_5pct"),
        _wit(4, "p99_within_5pct"),
    )


@query(
    "unpivot_lineitem_measures",
    oracle=f"""
    WITH u AS (
        SELECT 'l_quantity' AS measure, l_quantity AS amount FROM lineitem
        UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        UNION ALL SELECT 'l_tax', l_tax FROM lineitem
    )
    SELECT measure, count(*) AS n,
           {EX.sum_round4_sql(EX.cents_sql('amount'), 2)} AS total,
           {EX.avg_round4_sql(EX.cents_sql('amount'), 2)} AS mean
    FROM u GROUP BY measure
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) the four lineitem measures to long form, then
    summarize per measure — the wide→long reshape every metrics
    pipeline needs. Spark's `unpivot` compiles to a generate/expand
    node (each input row emits 4), so it stays narrow: the only
    shuffle is the 4-group aggregate, whose partial aggregation
    reduces each task to 4 rows regardless of input size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_orderkey"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="amount",
    )
    return long.groupBy("measure").agg(
        F.count("*").alias("n"),
        EX.sum_round4(EX.cents("amount"), 2).alias("total"),
        EX.avg_round4(EX.cents("amount"), 2).alias("mean"),
    )


@query(
    "agg_decimal_bigsum",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           CAST(sum(CAST({_REV_INT_SQL} AS DECIMAL(38, 0))) AS VARCHAR)
               AS sum_disc_price_s4,
           CAST(sum(CAST({_REV_INT_SQL} * (100 + {EX.cents_sql('l_tax')})
                         AS DECIMAL(38, 0))) AS VARCHAR)
               AS sum_charge_s6
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_decimal_bigsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q1's scale-6 money sums on DECIMAL(38,0) — the documented
    large-SF escape hatch (q1_pricing_summary's headroom note) as a
    living, verified plan rather than a comment: the ~1e11-per-row
    charge term overflows a per-group long sum around sf30, while a
    DECIMAL(38) sum holds to ~1e26 rows/group — beyond any real
    cluster — with the exact same fixed-point semantics.

    Sums are emitted as STRINGS of the full-precision integers:
    decimal division/round rules legitimately differ between engines,
    but the undivided sums are exact integers both engines render
    identically — so the oracle pins the entire 38-digit value, not a
    rounded projection of it. Single shuffle, map-side partial
    aggregation in decimal (Spark's Sum operates on UnscaledValue
    longs until overflow risk, then Decimal128 — Tungsten-resident
    either way).
    """
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    disc_int = _REV_INT().cast(dec)
    charge_int = (_REV_INT() * (F.lit(100) + EX.cents("l_tax"))).cast(dec)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(disc_int).cast("string").alias("sum_disc_price_s4"),
            F.sum(charge_int).cast("string").alias("sum_charge_s6"),
        )
    )


@query(
    "division_supplier_coverage",
    oracle="""
    WITH target AS (SELECT p_partkey FROM part WHERE p_size <= 5),
    tot AS (SELECT count(*) AS n FROM target),
    cov AS (
        SELECT l_suppkey AS s_suppkey, count(DISTINCT l_partkey) AS parts_covered
        FROM lineitem JOIN target ON l_partkey = p_partkey
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, parts_covered, tot.n AS target_total,
           (parts_covered = tot.n) AS is_full_cover,
           parts_covered * 1000 // tot.n AS coverage_permille
    FROM cov, tot
    ORDER BY parts_covered DESC, s_suppkey LIMIT 20
    """,
)
def division_supplier_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division, reported as coverage: which suppliers have
    shipped EVERY small part (p_size ≤ 5)? is_full_cover is the
    classical division answer; the per-supplier covered-count ranking
    is what a sourcing analyst actually reads when nobody divides
    exactly (the synthetic corpus's case — verified non-degenerate:
    top coverage ≈ a third of the target set).

    Plan: the target-part list broadcasts into the lineitem scan (the
    filter side of division is always the small side), the distinct
    (supplier, part) pre-aggregation runs BEFORE counting — partial
    aggregation collapses repeat shipments map-side and avoids the
    count-distinct Expand (same rewrite as approx_distinct_customers)
    — and the one-row target total broadcasts into the result. Top-k
    via TakeOrderedAndProject with the supplier key as tie-break.
    """
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    target = part.filter(F.col("p_size") <= 5).select("p_partkey")
    tot = target.agg(F.count("*").alias("n"))
    cov = (
        li.join(F.broadcast(target), li.l_partkey == target.p_partkey)
        .select(F.col("l_suppkey").alias("s_suppkey"), "l_partkey")
        .distinct()
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("parts_covered"))
    )
    return (
        cov.crossJoin(F.broadcast(tot))
        .select(
            "s_suppkey",
            "parts_covered",
            F.col("n").alias("target_total"),
            (F.col("parts_covered") == F.col("n")).alias("is_full_cover"),
            F.expr("parts_covered * 1000 div n").alias("coverage_permille"),
        )
        .orderBy(F.desc("parts_covered"), "s_suppkey")
        .limit(20)
    )


@query(
    "orders_monthly_momentum",
    oracle=f"""
    WITH m AS (
        SELECT date_trunc('month', o_orderdate) AS month,
               count(*) AS n_orders,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_c
        FROM orders GROUP BY 1
    )
    SELECT strftime(month, '%Y-%m-%d') AS month,
           n_orders,
           round(total_c / 100.0, 4) AS total_price,
           round((total_c - lag(total_c) OVER w) / 100.0, 4) AS mom_delta,
           {EX.ratio_round4_sql("total_c", "lag(total_c, 12) OVER w", 0)} AS yoy_ratio
    FROM m WINDOW w AS (ORDER BY month)
    """,
)
def orders_monthly_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue momentum — the
    trend/seasonality readout every revenue dashboard leads with:
    monthly totals, the MoM delta, and the ratio against the same
    month a year earlier (lag 12 on a dense monthly series).

    All arithmetic runs on exact cent sums; the lags subtract/divide
    integers, so deltas are exact and the single ratio division is
    the only float op (identical op tree both engines). First months
    carry NULL deltas/ratios by lag semantics — the honest answer,
    not zero. Scale: the window runs over the per-month aggregate
    (one row per month — centuries fit one reducer); the fact scan
    shuffles once into the monthly groupBy with map-side partials.
    """
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.count("*").alias("n_orders"),
        F.sum(EX.cents("o_totalprice")).alias("total_c"),
    )
    w = W.orderBy("month")
    return m.select(
        F.date_format("month", "yyyy-MM-dd").alias("month"),
        "n_orders",
        F.round(F.col("total_c") / 100.0, 4).alias("total_price"),
        F.round((F.col("total_c") - F.lag("total_c").over(w)) / 100.0, 4).alias("mom_delta"),
        EX.ratio_round4(F.col("total_c"), F.lag("total_c", 12).over(w), 0).alias(
            "yoy_ratio"
        ),
    )


@query(
    "customer_rfm_segments",
    oracle="""
    WITH ref AS (SELECT max(o_orderdate) AS r FROM orders),
    base AS (
        SELECT o_custkey AS c_custkey,
               date_diff('day', max(o_orderdate), (SELECT r FROM ref)) AS recency_days,
               count(*) AS frequency,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary_c
        FROM orders GROUP BY o_custkey
    )
    SELECT c_custkey, recency_days, frequency,
           round(monetary_c / 100.0, 4) AS monetary,
           ntile(5) OVER (ORDER BY recency_days DESC, c_custkey) AS r_score,
           ntile(5) OVER (ORDER BY frequency ASC,  c_custkey) AS f_score,
           ntile(5) OVER (ORDER BY monetary_c ASC, c_custkey) AS m_score
    FROM base
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency (days since last order, against the
    corpus's max date so the query is reproducible), frequency, and
    monetary value per customer, each quintile-scored 1-5 with 5 =
    best — the marketing-analytics workhorse for churn/VIP targeting.

    ntile is order-dependent, so every score ordering carries the
    customer key as the deterministic tie-break (the same rule as
    topk_orders_per_segment); recency sorts DESC so the most recent
    customers land in tile 5. Scale (rewritten per VERDICT r5 #3): no
    unpartitioned window anywhere — scores come from
    scale.two_level_prefix global ranks (range-banded, per-band
    windows, P-row offset table) turned into quintiles by
    scale.ntile_from_rank's integer arithmetic, which reproduces
    window-ntile's bucket boundaries bit-for-bit (the oracle still
    runs the literal ntile).

    r17 (VERDICT r16 #6, guide §2.3/§2.4): ALL THREE scores now ride
    ONE banded pass instead of three. Each base row melts into three
    slim (sid, key, c_custkey) rows — the sort key encodes its
    ordering as a single ascending long (recency negated for its DESC
    sort; ties break on c_custkey exactly as before) — and a single
    two_level_prefix over (sid, key, c_custkey) assigns every row its
    global rank. Because each score block holds EXACTLY N rows (N =
    _totn/3), the block-local rank is ``_rk − (sid−1)·N`` and
    ntile_from_rank reproduces each branch's quintiles bit-for-bit.
    One groupBy(c_custkey) pivots the three scores back, replacing
    the r16 three-branch build (3 range exchanges + 3 eager
    localCheckpoints + 3 score joins + a 3-thread overlap pool) with
    one exchange chain over rows a third the width (the melt carries
    2 longs + the key, not the whole base row). Plan diff: 54 → 27
    Exchange lines, 30 → 24 HashAggregate (committed dumps under
    plans/r17/); bench 1.469 (r16 band) → 1.056 s quiet.
    """
    orders = load_table(spark, sf_dir, "orders")
    ref = orders.agg(F.max("o_orderdate").alias("r"))
    base = (
        orders.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum(EX.cents("o_totalprice")).alias("monetary_c"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "c_custkey",
            F.datediff("r", "last_order").alias("recency_days"),
            "frequency",
            "monetary_c",
        )
    )
    # Melt: (sid, key) per score — key1 ascends exactly as the score's
    # declared ordering (DESC recency → ascending negation; all three
    # keys are NOT NULL by construction: datediff of non-null maxes,
    # count(*), sum over the groups' own rows).
    melted = base.select(
        "c_custkey",
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("sid"),
                    (-F.col("recency_days").cast("long")).alias("key"),
                ),
                F.struct(
                    F.lit(2).alias("sid"),
                    F.col("frequency").cast("long").alias("key"),
                ),
                F.struct(
                    F.lit(3).alias("sid"),
                    F.col("monetary_c").cast("long").alias("key"),
                ),
            )
        ).alias("s"),
    ).select("c_custkey", "s.sid", "s.key")
    ranked = SC.two_level_prefix(
        melted, [F.asc("sid"), F.asc("key"), F.asc("c_custkey")]
    )
    n = F.expr("_totn div 3")  # rows per score block, exactly N
    score = SC.ntile_from_rank(
        F.col("_rk") - (F.col("sid") - 1).cast("long") * n, n, 5
    ).cast("int")
    scores = ranked.groupBy("c_custkey").agg(
        F.max(F.when(F.col("sid") == 1, score)).alias("r_score"),
        F.max(F.when(F.col("sid") == 2, score)).alias("f_score"),
        F.max(F.when(F.col("sid") == 3, score)).alias("m_score"),
    )
    return base.join(scores, "c_custkey").select(
        "c_custkey",
        "recency_days",
        "frequency",
        F.round(F.col("monetary_c") / 100.0, 4).alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
    )


#: q18 threshold: orders whose total line quantity exceeds this
#: (cents scale — 300 units). ≈ the 99.5th percentile at any SF
#: (TPC-H order size is SF-invariant), so the result is a stable,
#: small "largest orders" set.
Q18_QTY_CENTS = 300 * 100


@query(
    "q18_large_volume_customers",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey,
               sum({EX.cents_sql('l_quantity')}) AS qty_c
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum({EX.cents_sql('l_quantity')}) > {Q18_QTY_CENTS}
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           round(o.o_totalprice, 4)      AS total_price,
           round(big.qty_c / 100.0, 4)   AS total_qty
    FROM big
    JOIN orders o   ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style large-volume-customer report: orders whose
    total line quantity exceeds a threshold (a HAVING over the fact
    aggregate), joined back to orders and customer for the who/when.

    Quantities aggregate as exact cents (functions.exact — wide
    decimal sums, so the HAVING predicate is integer-exact on both
    engines); the output divisions are single ops on identical
    operands. Scale: the lineitem aggregate shuffles once on
    l_orderkey with map-side partials; HAVING prunes to a "big
    orders" set BEFORE any join — the aggregate-then-filter-then-join
    shape that makes Q18 tractable at any SF (the naive join-first
    plan moves the whole fact table twice). The join-back carries NO
    broadcast hint (r8, the q21 review point): with a FIXED quantity
    threshold the qualifying set is ORDER-cardinality — it grows
    linearly with the corpus, so a hardcoded broadcast is the
    unbounded-broadcast OOM class; AQE broadcasts it at small SF from
    measured bytes and key-partitions above.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(EX.wide_sum(EX.cents("l_quantity")).alias("qty_c"))
        .filter(F.col("qty_c") > Q18_QTY_CENTS)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 4).alias("total_price"),
            F.round(F.col("qty_c") / 100.0, 4).alias("total_qty"),
        )
    )


@query(
    "fuzzy_part_name_pairs",
    oracle="""
    WITH names AS (
        SELECT DISTINCT p_name,
               split_part(p_name, ' ', -1) AS block
        FROM part
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS edit_distance
    FROM names a JOIN names b
      ON a.block = b.block AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage: near-identical part names (edit distance
    ≤ 2) found via the classic blocking strategy — candidates must
    share a block key (the name's last token) before any pairwise
    comparison runs. This is entity resolution's core move, the
    string-similarity sibling of the LSH band-join: an unblocked
    fuzzy join is O(n²) in the expensive metric; blocked, the
    quadratic term is per-block and the metric only prices real
    candidates.

    Names are DISTINCT-ed first (2 000 rows → 64 names here; catalog
    names dedupe massively at any scale), so the self-join runs on
    the name dictionary, not the row count. Levenshtein is
    unit-cost edit distance in both engines — integer, no tolerance
    needed. Deterministic pair orientation via name_a < name_b.
    """
    part = load_table(spark, sf_dir, "part")
    names = part.select("p_name").distinct().select(
        "p_name", F.element_at(F.split("p_name", " "), -1).alias("block")
    )
    a = names.select(F.col("p_name").alias("name_a"), F.col("block").alias("ba"))
    b = names.select(F.col("p_name").alias("name_b"), F.col("block").alias("bb"))
    return (
        a.join(b, (F.col("ba") == F.col("bb")) & (F.col("name_a") < F.col("name_b")))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= 2)
    )


#: Equi-depth bucket count for orders_price_equidepth.
EQUIDEPTH_NB = 10


@query(
    "orders_price_equidepth",
    oracle=f"""
    WITH ranked AS (
        SELECT o_totalprice,
               ntile({EQUIDEPTH_NB}) OVER (
                   ORDER BY {EX.cents_sql('o_totalprice')}, o_orderkey
               ) AS bucket
        FROM orders
    )
    SELECT bucket,
           count(*)                      AS n_orders,
           round(min(o_totalprice), 4)   AS lo,
           round(max(o_totalprice), 4)   AS hi,
           {EX.avg_round4_sql(EX.cents_sql('o_totalprice'), 2)} AS mean_price
    FROM ranked GROUP BY bucket
    """,
)
def orders_price_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH price histogram: {EQUIDEPTH_NB} buckets holding
    equal ROW counts (± 1), with each bucket's realized [lo, hi]
    boundary and exact mean — the quantile-binning primitive behind
    optimizer statistics, drift baselines, and stratified designs,
    and the complement of dq_drift_report's equal-WIDTH length bins
    (skew-robust where fixed-width bins collapse into one hot
    bucket).

    Bucket assignment is scale.ntile_from_rank over a
    scale.two_level_prefix global rank — the banded machinery from
    customer_rfm_segments reused for value bucketing, so there is no
    single-reducer window even at billions of orders while the oracle
    runs the literal ntile. (o_orderkey tie-break → total order →
    bit-equal buckets.) The per-bucket aggregate shuffles
    {EQUIDEPTH_NB} keys with map-side partials; min/max are exact
    2-decimal element picks (no 5th-decimal tie class) and the mean
    uses the exact ratio identity.
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_totalprice", EX.cents("o_totalprice").alias("price_c"))
    ranked = SC.two_level_prefix(base, [F.asc("price_c"), F.asc("o_orderkey")])
    return (
        # _totn from the banded pass replaces the former
        # count-aggregate + crossJoin(broadcast) — one fewer job and
        # broadcast exchange for the identical integer (r16, §2.4).
        ranked.withColumn(
            "bucket",
            SC.ntile_from_rank(F.col("_rk"), F.col("_totn"), EQUIDEPTH_NB).cast("int"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 4).alias("lo"),
            F.round(F.max("o_totalprice"), 4).alias("hi"),
            EX.avg_round4(F.col("price_c"), 2).alias("mean_price"),
        )
    )


# --------------------------------------------------------------------------
# r7: the remaining TPC-H query shapes expressible on this star schema
# (no partsupp table in the fixtures, so Q2/Q9/Q16/Q20 are adapted to
# lineitem-derived supplier facts — the JOIN/SUBQUERY shapes are the
# point, cited against the classic queries they mirror).
# --------------------------------------------------------------------------

#: Q7 nation pair (both directions are reported, as in the spec).
Q7_NATIONS = ("NATION_1", "NATION_2")

#: Q19's disjunctive predicate triples: (brand, size lo-hi, qty lo-hi).
Q19_ARMS = (
    ("Brand#4", 1, 15, 1, 30),
    ("Brand#19", 10, 30, 10, 40),
    ("Brand#2", 20, 50, 20, 50),
)


@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           year(l_shipdate) AS ship_year,
           {EX.sum_round4_sql(_REV_INT_SQL, 4)} AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    WHERE ((sn.n_name = '{Q7_NATIONS[0]}' AND cn.n_name = '{Q7_NATIONS[1]}')
        OR (sn.n_name = '{Q7_NATIONS[1]}' AND cn.n_name = '{Q7_NATIONS[0]}'))
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): revenue shipped between a nation
    pair, split by direction and ship year.

    Scale: supplier/customer/nation are dims — supplier⋈nation and
    customer⋈nation broadcast into the two fact scans, so the only
    real shuffle is lineitem⋈orders on the shared orderkey. The
    nation-pair disjunction is applied to the broadcast dims BEFORE
    the fact join (each side keeps only the two nations), so the fact
    tables shrink at the scan, and the date filter pushes into the
    lineitem parquet scan. Revenue is the exact integer formulation.
    """
    a, b = Q7_NATIONS
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(a, b))
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year")
        )
        .agg(EX.sum_round4(_REV_INT(), 4).alias("revenue"))
    )


@query(
    "q9_product_profit",
    oracle=f"""
    SELECT n_name AS supp_nation,
           year(o_orderdate) AS order_year,
           {EX.sum_round4_sql(_REV_INT_SQL, 4)} AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%gear%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit) adapted to the fixture schema:
    profit by supplier nation × order year over parts whose name
    matches a token (no partsupp table → profit is the discounted
    revenue term; the Q9 JOIN SHAPE — fact⋈part-filter⋈supplier⋈
    nation⋈orders — is intact).

    Scale: the LIKE filter prunes part BEFORE broadcast, so the fact
    scan is gated by a broadcast semi-ish join on partkey; supplier⋈
    nation broadcasts; lineitem⋈orders shuffles once on orderkey.
    """
    pt = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%gear%")
    ).select("p_partkey")
    nat = load_table(spark, sf_dir, "nation")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("supp_nation", F.year("o_orderdate").alias("order_year"))
        .agg(EX.sum_round4(_REV_INT(), 4).alias("profit"))
    )


@query(
    "q12_ship_delay_priority",
    oracle="""
    SELECT (datediff('day', o_orderdate, l_shipdate) > 90) AS late,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    GROUP BY 1
    """,
)
def q12_ship_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes & priority) adapted: the fixture has
    no ship mode / commit date, so lines are classified by SHIP DELAY
    (shipped >90 days after order) and counted by order priority —
    the same conditional-aggregation shape (CASE inside SUM) over the
    orders⋈lineitem join.

    Scale: one shuffle on orderkey; the CASE terms are integer
    conditionals folded into the aggregate (map-side partials), no
    post-join pass. datediff is date-granular in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            (
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90
            ).alias("late")
        )
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q14_promo_revenue",
    oracle=f"""
    WITH m AS (
        SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
               sum(CASE WHEN p_type LIKE 'PROMO%'
                        THEN CAST({_REV_INT_SQL} AS HUGEINT) ELSE 0 END) AS promo_c,
               sum(CAST({_REV_INT_SQL} AS HUGEINT)) AS total_c
        FROM lineitem JOIN part ON p_partkey = l_partkey
        GROUP BY 1
    )
    SELECT ship_month,
           {EX.ratio_round4_sql("100 * promo_c", "total_c", 0)} AS promo_share_pct
    FROM m
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): the share of revenue from
    promo-type parts, per ship month — conditional revenue over total
    revenue.

    The share is the exact integer ratio identity over two
    DECIMAL(38,0) cent sums (numerator pre-scaled ×100 for percent),
    so the reported percentage cannot flip on float rounding. Scale:
    part broadcasts into the fact scan; one aggregate, both sums in
    the same pass (no second scan for the denominator).
    """
    pt = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_type").like("PROMO%").alias("is_promo")
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev = _REV_INT()
    g = (
        li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            EX.wide_sum(F.when(F.col("is_promo"), rev).otherwise(F.lit(0))).alias(
                "promo_c"
            ),
            EX.wide_sum(rev).alias("total_c"),
        )
    )
    return g.select(
        "ship_month",
        EX.ratio_round4(F.col("promo_c") * 100, F.col("total_c"), 0).alias(
            "promo_share_pct"
        ),
    )


@query(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT {EX.sum_round4_sql(_REV_INT_SQL, 4)} AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE {" OR ".join(
        f"(p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi}"
        f" AND l_quantity BETWEEN {qlo} AND {qhi})"
        for b, slo, shi, qlo, qhi in Q19_ARMS
    )}
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): a disjunction of conjunctive
    arms mixing part attributes (brand, size) with fact attributes
    (quantity) — the classic OR-of-ANDs predicate that exercises
    cross-table predicate handling.

    Scale: Catalyst pushes the part-only disjunction (brand ∈ {..} OR
    …) into the broadcast side and the quantity envelope into the
    fact scan; the residual mixed predicate evaluates post-join
    inside codegen. One broadcast join, zero shuffles beyond the
    final single-row aggregate.
    """
    pt = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    joined = li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
    arm = None
    for b, slo, shi, qlo, qhi in Q19_ARMS:
        cond = (
            (F.col("p_brand") == b)
            & F.col("p_size").between(slo, shi)
            & F.col("l_quantity").between(qlo, qhi)
        )
        arm = cond if arm is None else (arm | cond)
    return joined.filter(arm).agg(
        EX.sum_round4(_REV_INT(), 4).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


@query(
    "q2_min_offer_supplier",
    oracle="""
    WITH offers AS (
        SELECT l_partkey, l_suppkey,
               min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS offer_c
        FROM lineitem
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT l_partkey, l_suppkey, offer_c,
               row_number() OVER (PARTITION BY l_partkey
                                  ORDER BY offer_c, l_suppkey) AS rn
        FROM offers
    )
    SELECT r.l_partkey AS p_partkey, p.p_brand,
           s.s_suppkey, s.s_name,
           round(r.offer_c / 100.0, 4) AS best_offer
    FROM ranked r
    JOIN part p     ON p.p_partkey = r.l_partkey
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.rn = 1 AND p.p_size >= 40
    """,
)
def q2_min_offer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier) adapted to the fixture schema:
    for each large part (no partsupp table → "cost" is the cheapest
    observed sale price per (part, supplier)), the supplier making
    the cheapest offer — the correlated-min-subquery shape, resolved
    the scalable way.

    Scale: instead of a correlated per-part subquery (one probe per
    part — the literal Q2 text), the min-offer is ONE aggregation to
    (part, supplier) grain and an argmin via min(struct(offer, supp))
    per part — two map-side-combining shuffles, no window over the
    fact table, deterministic tie-break on suppkey baked into the
    struct ordering. part/supplier join back as broadcasts, and the
    p_size filter prunes parts before the join-back.
    """
    li = load_table(spark, sf_dir, "lineitem")
    offers = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.min(EX.cents("l_extendedprice")).alias("offer_c"))
    )
    best = (
        offers.groupBy("l_partkey")
        .agg(F.min(F.struct("offer_c", "l_suppkey")).alias("b"))
        .select("l_partkey", F.col("b.offer_c"), F.col("b.l_suppkey"))
    )
    pt = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 40)
    sup = load_table(spark, sf_dir, "supplier")
    return (
        best.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey",
            "p_brand",
            "s_suppkey",
            "s_name",
            F.round(F.col("offer_c") / 100.0, 4).alias("best_offer"),
        )
    )


@query(
    "q16_supplier_diversity",
    oracle="""
    SELECT p_brand, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand IN ('Brand#2', 'Brand#4', 'Brand#19')
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY 1, 2
    """,
)
def q16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship) adapted: distinct
    suppliers per (brand, size) over observed sales, EXCLUDING a
    blacklist from a subquery (negative-balance suppliers standing in
    for Q16's complaint suppliers) — the NOT IN + COUNT DISTINCT
    shape.

    Scale: the blacklist is a broadcast LEFT ANTI join (NOT IN with a
    non-nullable key list is exactly anti-join semantics — no
    null-poisoning here since s_suppkey is a PK); brand-filtered part
    broadcasts; the count-distinct shuffles once on (brand, size)
    with partial distinct aggregation map-side.
    """
    li = load_table(spark, sf_dir, "lineitem")
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    pt = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#2", "Brand#4", "Brand#19")
    )
    return (
        li.join(
            F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
        )
        .join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_promo_part_suppliers",
    oracle="""
    WITH promo AS (
        SELECT l_suppkey,
               sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_c
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_type LIKE 'PROMO%'
        GROUP BY 1
    ),
    stats AS (
        SELECT CAST(sum(qty_c) AS HUGEINT) AS tot, count(*) AS n FROM promo
    )
    SELECT s.s_suppkey, s.s_name,
           round(p.qty_c / 100.0, 4) AS promo_qty
    FROM promo p
    CROSS JOIN stats
    JOIN supplier s ON s.s_suppkey = p.l_suppkey
    WHERE CAST(p.qty_c AS HUGEINT) * stats.n * 10 > 11 * stats.tot
    """,
)
def q20_promo_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion) adapted: suppliers whose
    promo-part volume exceeds 1.1× the average supplier's — the
    scalar-aggregate-threshold subquery shape (Q20's "half the total
    quantity" predicate), with the multiplier chosen non-degenerate
    for this corpus's near-uniform volumes (2× selects zero rows at
    every SF — a vacuous green; 1.1× keeps 2/20/183 rows at
    sf0.001/0.01/0.1).

    The threshold predicate is integer CROSS-MULTIPLICATION
    (qty·n > 2·total on DECIMAL(38,0)/HUGEINT), so membership cannot
    flip on a float average. Scale: promo parts broadcast into the
    fact scan; per-supplier sums shuffle once; the (total, n) stats
    are ONE row cross-joined back (broadcast), and supplier joins
    back as a broadcast dim.
    """
    pt = load_table(spark, sf_dir, "part").filter(
        F.col("p_type").like("PROMO%")
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem")
    # wide_sum, not a bare long sum: the DuckDB twin's sum(BIGINT)
    # auto-promotes to HUGEINT while Spark's long sum wraps silently
    # in non-ANSI mode — the exact divergence class the wide_sum
    # policy exists for (ADVICE r7; q22 below uses it for the same
    # shape). Downstream already multiplies on decimal(38,0).
    promo = (
        li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(EX.wide_sum(EX.cents("l_quantity")).alias("qty_c"))
    )
    stats = promo.agg(
        EX.wide_sum(F.col("qty_c")).alias("tot"), F.count("*").alias("n")
    )
    sup = load_table(spark, sf_dir, "supplier")
    return (
        promo.crossJoin(F.broadcast(stats))
        .filter(
            F.col("qty_c").cast("decimal(38,0)") * F.col("n") * 10
            > 11 * F.col("tot")
        )
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("qty_c") / 100.0, 4).alias("promo_qty"),
        )
    )


# --------------------------------------------------------------------------
# r7 (second batch): the rest of the TPC-H suite expressible here —
# Q4/Q6/Q8/Q13/Q15/Q17/Q21/Q22 shapes (commitdate/receiptdate,
# partsupp, comments, phones absent from the fixtures; each docstring
# names its adaptation — the JOIN/SUBQUERY/AGG shape is the point).
# --------------------------------------------------------------------------


@query(
    "q4_priority_late_orders",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND datediff('day', o_orderdate, l_shipdate) > 60
      )
    GROUP BY o_orderpriority
    """,
)
def q4_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking) adapted: orders in a
    quarter having AT LEAST ONE line shipped >60 days after order
    (stand-in for commit<receipt — the fixture has only l_shipdate),
    counted by priority. The EXISTS decorrelates to a LEFT SEMI join.

    Scale: the date filter prunes orders at the scan; the semi join
    shuffles on orderkey and short-circuits per key (no fact-side
    aggregation, no duplicate explosion); priority count is a
    broadcast-small aggregate.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).filter(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60
    ).select(F.col("l_orderkey").alias("k"))
    return (
        orders.join(late, orders.o_orderkey == F.col("k"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {EX.sum_round4_sql(
        f"{EX.cents_sql('l_extendedprice')} * {EX.cents_sql('l_discount')}", 4
    )} AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND {EX.cents_sql('l_discount')} BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the single-table
    filter-and-sum — revenue that WOULD have been earned had
    discounts in a band been dropped (Σ price·discount over a year,
    discount 5-7%, small quantities).

    The discount-band predicate runs on exact cents (a raw
    ``BETWEEN 0.05 AND 0.07`` on binary doubles excludes 0.07's
    nearest-double when it rounds up — the knife-edge class), and the
    product sum is integer scale-4. Scale: zero joins, one scan with
    ALL predicates pushed to parquet (date range prunes row groups by
    footer stats), map-side partial aggregation into a single row.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_c = EX.cents("l_discount")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & disc_c.between(5, 7)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            EX.sum_round4(EX.cents("l_extendedprice") * disc_c, 4).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "q8_market_share",
    oracle=f"""
    WITH base AS (
        SELECT year(o_orderdate) AS order_year,
               CAST({_REV_INT_SQL} AS HUGEINT) AS rev,
               sn.n_name AS supp_nation
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation cn ON cn.n_nationkey = c_nationkey
        JOIN region   ON r_regionkey = cn.n_regionkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation sn ON sn.n_nationkey = s_nationkey
        WHERE r_name = 'ASIA'
    )
    SELECT order_year,
           {EX.ratio_round4_sql(
               "100 * sum(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END)",
               "sum(rev)", 0)} AS mkt_share_pct
    FROM base GROUP BY order_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): the share of revenue in one
    region's orders supplied by a given nation, per year — the
    conditional-numerator / total-denominator ratio computed in ONE
    aggregation pass (no second scan, no self-join).

    Share is the exact integer ratio identity (numerator pre-scaled
    ×100 for percent) over DECIMAL(38,0)/HUGEINT cent sums. Scale:
    customer⋈nation⋈region and supplier⋈nation broadcast; the fact
    join shuffles once on orderkey; both CASE branches fold into the
    same map-side partial.
    """
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("sk"),
        )
        .select("s_suppkey", "supp_nation")
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    rev = _REV_INT()
    base = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            EX.wide_sum(
                F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0))
            ).alias("num"),
            EX.wide_sum(rev).alias("den"),
        )
    )
    return base.select(
        "order_year",
        EX.ratio_round4(F.col("num") * 100, F.col("den"), 0).alias("mkt_share_pct"),
    )


@query(
    "q13_customer_order_distribution",
    oracle="""
    WITH co AS (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           count(*) AS custdist
    FROM co GROUP BY c_count
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): how many customers placed
    exactly k orders — INCLUDING the zero-order customers the inner
    join would drop (the LEFT JOIN + count(nullable) subtlety that
    makes Q13 a correctness classic).

    Scale: the first aggregate shuffles on custkey (orders' natural
    key locality); the distribution re-aggregate is tiny (distinct
    order counts). count(o_orderkey) — not count(*) — is what makes
    unmatched customers count 0.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    co = (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH srev AS (
        SELECT l_suppkey,
               sum(CAST({_REV_INT_SQL} AS HUGEINT)) AS rev_c
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    ),
    mx AS (SELECT max(rev_c) AS m FROM srev)
    SELECT s.s_suppkey, s.s_name,
           {EX.val_round4_sql("srev.rev_c", 4)} AS total_revenue
    FROM srev CROSS JOIN mx
    JOIN supplier s ON s.s_suppkey = srev.l_suppkey
    WHERE srev.rev_c = mx.m
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) with maximum revenue
    in a quarter — the view + scalar-max + equality join-back shape
    (ties kept, as the spec requires).

    The max and the equality run on exact integer cents, so ties are
    genuine ties (a double max can manufacture or lose one). Scale:
    per-supplier sums shuffle once; the 1-row max broadcasts back;
    supplier joins as a broadcast dim.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    srev = li.groupBy("l_suppkey").agg(EX.wide_sum(_REV_INT()).alias("rev_c"))
    mx = srev.agg(F.max("rev_c").alias("m"))
    sup = load_table(spark, sf_dir, "supplier")
    return (
        srev.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_c") == F.col("m"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            EX.val_round4(F.col("rev_c"), 4).alias("total_revenue"),
        )
    )


@query(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH pstats AS (
        SELECT l_partkey AS pk,
               CAST(sum({EX.cents_sql('l_quantity')}) AS HUGEINT) AS sq,
               count(*) AS nq
        FROM lineitem GROUP BY l_partkey
    )
    SELECT {EX.ratio_round4_sql(
        "sum(CAST(round(l_extendedprice * 100) AS BIGINT))", "7 * 100", 0
    )} AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem
    JOIN pstats ON pk = l_partkey
    WHERE CAST({EX.cents_sql('l_quantity')} AS HUGEINT) * 5 * nq < sq
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): revenue from lines
    whose quantity is below 20% of that part's average quantity,
    divided by 7 (the spec's "average yearly" convention) — the
    correlated-scalar-average shape decorrelated into one aggregate
    plus a join-back.

    The threshold is integer CROSS-MULTIPLICATION on exact cents
    (qty·5·n < Σqty ⟺ qty < 0.2·avg, no float average anywhere), and
    the final ÷(7·100) runs through the exact ratio identity. Scale:
    the per-part stats shuffle once on partkey; the join-back reuses
    the same key partitioning (co-located sort-merge); no
    re-aggregation of the fact side.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty_c = EX.cents("l_quantity")
    pstats = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        EX.wide_sum(qty_c).alias("sq"), F.count("*").alias("nq")
    )
    return (
        li.join(pstats, F.col("l_partkey") == F.col("pk"))
        .filter(qty_c.cast("decimal(38,0)") * 5 * F.col("nq") < F.col("sq"))
        .agg(
            EX.ratio_round4(
                EX.wide_sum(EX.cents("l_extendedprice")), F.lit(700), 0
            ).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "q21_sole_late_supplier",
    oracle="""
    WITH ostat AS (
        SELECT l_orderkey AS k,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN datediff('day', o_orderdate, l_shipdate) > 60
                                   THEN l_suppkey END) AS n_late
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        GROUP BY l_orderkey
    ),
    blame AS (
        SELECT DISTINCT li.l_suppkey, li.l_orderkey
        FROM lineitem li
        JOIN orders o ON o.o_orderkey = li.l_orderkey
        JOIN ostat   ON ostat.k = li.l_orderkey
        WHERE ostat.n_supp >= 2 AND ostat.n_late = 1
          AND datediff('day', o.o_orderdate, li.l_shipdate) > 60
    )
    SELECT s.s_suppkey, s.s_name, count(*) AS numwait
    FROM blame JOIN supplier s ON s.s_suppkey = blame.l_suppkey
    GROUP BY 1, 2
    """,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): per supplier,
    the number of multi-supplier orders where THEY were the only late
    one — the EXISTS(other supplier) AND NOT EXISTS(other late
    supplier) double-correlation, decorrelated into one per-order
    conditional-distinct aggregate (late defined as shipped >60 days
    after order; the fixture has no commit/receipt dates).

    Scale: ONE fact scan — the (order, supplier, ever-late) relation
    is aggregated first (plain max, no COUNT DISTINCT Expand
    duplication); the per-order stats (supplier count, late-supplier
    count) are then PARTITIONED WINDOWS over that aggregate keyed on
    l_orderkey (bounded per-order fan-in: TPC-H orders carry ≤7
    suppliers), so the blame predicate applies row-wise in the same
    pass. r17 (VERDICT r16 #5, guide §2.4): this replaces the r8-r16
    shape — an eager localCheckpoint feeding a separate per-order
    aggregate that was joined BACK to the pair table — with zero
    materialization jobs and no self-join; the window's exchange on
    l_orderkey is the only post-aggregate shuffle, and it moves the
    already-aggregated pair table, never the fact. The literal
    nested-EXISTS formulation scans lineitem three times; the r7 cut
    twice with an Expand (3.0 s); the r8 checkpoint chain measured
    1.75-2.0 s; this is single-scan, single-job (measured: see
    plans/r17/q21_sole_late_supplier_after.txt).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    j = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    late = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60
    os_ = j.groupBy("l_orderkey", "l_suppkey").agg(F.max(late).alias("supp_late"))
    w = W.partitionBy("l_orderkey")
    blame = (
        os_.withColumn("n_supp", F.count("*").over(w))
        .withColumn(
            "n_late",
            F.sum(F.when(F.col("supp_late"), 1).otherwise(0)).over(w),
        )
        .filter(
            F.col("supp_late") & (F.col("n_supp") >= 2) & (F.col("n_late") == 1)
        )
    )
    sup = load_table(spark, sf_dir, "supplier")
    return (
        blame.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("numwait"))
    )


@query(
    "q22_dormant_rich_customers",
    oracle="""
    WITH avg_bal AS (
        SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS HUGEINT) AS s,
               count(*) AS n
        FROM customer WHERE c_acctbal > 0
    )
    SELECT CAST(c_custkey % 10 AS BIGINT) AS cust_group,
           count(*) AS numcust,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS totacctbal_c
    FROM customer CROSS JOIN avg_bal
    WHERE CAST(round(c_acctbal * 100) AS BIGINT) * avg_bal.n > avg_bal.s
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY 1
    """,
)
def q22_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): customers with
    above-average positive balances and NO orders since 2000 (cutoff
    chosen non-degenerate for this corpus's 1995-2001 order span:
    5/55/646 qualifying customers at sf0.001/0.01/0.1 — the spec's
    relative cutoff selects zero here, a vacuous green), grouped by
    a customer-group code (custkey mod 10 — the fixture has no phone
    country codes) — the scalar-average threshold + NOT EXISTS
    anti-join pair.

    The above-average test is integer cross-multiplication on exact
    balance cents (bal·n > Σbal — no float average), and the group
    totals are exact cent sums. Scale: the 1-row average broadcasts;
    the anti join shuffles on custkey against the date-pruned orders
    scan; group re-aggregation is 10 rows.
    """
    cust = load_table(spark, sf_dir, "customer")
    bal_c = EX.cents("c_acctbal")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        EX.wide_sum(bal_c).alias("s"), F.count("*").alias("n")
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    ).select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(bal_c.cast("decimal(38,0)") * F.col("n") > F.col("s"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy((F.col("c_custkey") % 10).alias("cust_group"))
        .agg(
            F.count("*").alias("numcust"),
            # wide_sum per the exact-sum policy (a bare long sum is the
            # ANSI overflow cliff); final long cast mirrors the
            # oracle's CAST AS BIGINT so driver dtypes align.
            EX.wide_sum(bal_c).cast("long").alias("totacctbal_c"),
        )
    )


# ---------------------------------------------------------------------------
# r8: yoy growth, exact discrete quantiles, gaps-and-islands, skyline
# ---------------------------------------------------------------------------


@query(
    "orders_yoy_revenue",
    oracle=f"""
    WITH yearly AS (
        SELECT year(o_orderdate) AS yr,
               CAST(sum({EX.cents_sql('o_totalprice')}) AS HUGEINT) AS rev_c
        FROM orders GROUP BY 1
    ),
    seq AS (
        SELECT yr, rev_c, lag(rev_c) OVER (ORDER BY yr) AS prev_c
        FROM yearly
    )
    SELECT yr,
           {EX.val_round4_sql('rev_c', 2)} AS revenue,
           {EX.ratio_round4_sql('rev_c', 'prev_c', 0)} AS yoy_ratio
    FROM seq
    """,
)
def orders_yoy_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue with the prior-period ratio — the
    period-comparison window shape (lag over an aggregated grain).
    The ratio is current/previous rounded via the exact rational
    identity (both operands are nonnegative cent sums, so the
    floor-based half-up rounding is valid); the first year's ratio is
    NULL in both engines (lag over nothing → NULL propagates through
    the division).

    Scale: one shuffle to the YEAR grain (map-side combinable cent
    sums on decimal(38,0) headroom); the lag window then runs over a
    handful of year rows — bounded input, the only kind of
    unpartitioned window this engine allows.
    """
    o = load_table(spark, sf_dir, "orders")
    yearly = o.groupBy(F.year("o_orderdate").alias("yr")).agg(
        EX.wide_sum(EX.cents("o_totalprice")).alias("rev_c")
    )
    w = W.orderBy("yr")
    seq = yearly.withColumn("prev_c", F.lag("rev_c").over(w))
    return seq.select(
        "yr",
        EX.val_round4(F.col("rev_c"), 2).alias("revenue"),
        EX.ratio_round4(F.col("rev_c"), F.col("prev_c"), 0).alias("yoy_ratio"),
    )


@query(
    "orders_price_quartiles_exact",
    oracle=f"""
    WITH ranked AS (
        SELECT o_orderpriority,
               {EX.cents_sql('o_totalprice')} AS price_c,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY {EX.cents_sql('o_totalprice')},
                                           o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
    )
    SELECT o_orderpriority, q.label AS quartile,
           {EX.val_round4_sql('price_c', 2)} AS price
    FROM ranked
    CROSS JOIN (VALUES (1, 'p25'), (2, 'p50'), (3, 'p75')) q(k, label)
    WHERE rn = (q.k * n + 3) // 4
    """,
)
def orders_price_quartiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DISCRETE quartiles (order statistics, no interpolation)
    of order price per priority: the value at rank ceil(k·n/4) under
    a total order with an explicit key tie-break — so unlike
    interpolated quantile_cont (agg_percentiles_lineitem) every
    reported price is an actual row's value and both engines pick
    the IDENTICAL row even among duplicate prices.

    ceil is the integer identity (k·n + 3) // 4 — arithmetic shared
    verbatim with the oracle; no floats anywhere before the final
    display rounding.

    Scale: exact rank-k per group needs a per-group total order —
    priority has only 5 values, so this is the low-cardinality-group
    regime where the sort cost is real at 100 TB; the production
    scale path is the sketch sibling (agg_approx_percentiles), and
    THIS query is its exact witness, run on samples or slices. (A
    rank-k-only variant can avoid the full sort via per-band counts —
    the two_level_prefix machinery — at the cost of a second pass.)
    """
    o = load_table(spark, sf_dir, "orders")
    price_c = EX.cents("o_totalprice")
    wrk = W.partitionBy("o_orderpriority").orderBy("price_c", "o_orderkey")
    wn = W.partitionBy("o_orderpriority")
    ranked = o.select(
        "o_orderpriority", price_c.alias("price_c"), "o_orderkey"
    ).select(
        "o_orderpriority",
        "price_c",
        F.row_number().over(wrk).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    qdefs = F.explode(
        F.array(
            F.struct(F.lit(1).alias("k"), F.lit("p25").alias("label")),
            F.struct(F.lit(2).alias("k"), F.lit("p50").alias("label")),
            F.struct(F.lit(3).alias("k"), F.lit("p75").alias("label")),
        )
    )
    return (
        ranked.select("o_orderpriority", "price_c", "rn", "n", qdefs.alias("q"))
        .filter(F.col("rn") == F.expr("(q.k * n + 3) div 4"))
        .select(
            "o_orderpriority",
            F.col("q.label").alias("quartile"),
            EX.val_round4(F.col("price_c"), 2).alias("price"),
        )
    )


@query(
    "customer_order_streaks",
    oracle="""
    WITH m AS (
        SELECT DISTINCT o_custkey,
               year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mi
        FROM orders
    ),
    g AS (
        SELECT o_custkey, mi,
               mi - dense_rank() OVER (PARTITION BY o_custkey
                                       ORDER BY mi) AS grp
        FROM m
    ),
    s AS (SELECT o_custkey, grp, count(*) AS len FROM g GROUP BY 1, 2)
    SELECT o_custkey,
           max(len) AS longest_streak,
           CAST(sum(len) AS BIGINT) AS n_active_months,
           count(*) AS n_streaks
    FROM s GROUP BY 1
    """,
)
def customer_order_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per customer, the LONGEST run of consecutive
    calendar months with at least one order, plus total active months
    and island count — the classic "streak" shape (retention runs,
    consecutive-day logins, SLA breach spells) that needs the
    month_index − dense_rank island identity: within a run of
    consecutive months the difference is constant, and every gap
    starts a new island. All integer arithmetic on a linearized month
    index (y·12 + m − 1).

    Scale: distinct (customer, month) is one shuffle (map-side
    combinable); the island window partitions by customer — millions
    of independent groups of ≤ #months rows each — and the two
    aggregations after it run on strictly shrinking keyed data.
    """
    o = load_table(spark, sf_dir, "orders")
    months = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("mi"),
    ).distinct()
    w = W.partitionBy("o_custkey").orderBy("mi")
    islands = months.withColumn("grp", F.col("mi") - F.dense_rank().over(w))
    streaks = islands.groupBy("o_custkey", "grp").agg(F.count("*").alias("len"))
    return streaks.groupBy("o_custkey").agg(
        F.max("len").alias("longest_streak"),
        F.sum("len").alias("n_active_months"),
        F.count("*").alias("n_streaks"),
    )


@query(
    "part_frontier_by_brand",
    oracle=f"""
    WITH pts AS (
        SELECT p_brand,
               {EX.cents_sql('p_retailprice')} AS price_c,
               p_size AS size,
               count(*) AS n_parts,
               min(p_partkey) AS min_partkey
        FROM part GROUP BY 1, 2, 3
    ),
    sky AS (
        SELECT *,
               max(size) OVER (PARTITION BY p_brand
                               ORDER BY price_c ASC, size DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS mx
        FROM pts
    )
    SELECT p_brand,
           {EX.val_round4_sql('price_c', 2)} AS price,
           size, n_parts, min_partkey
    FROM sky
    WHERE mx IS NULL OR mx < size
    """,
)
def part_frontier_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D SKYLINE (Pareto frontier) per brand: the parts not
    dominated on (price ↓ better, size ↑ better) — no other same-brand
    part is cheaper-or-equal AND larger-or-equal with one strict.
    The windowed formulation: dedupe to distinct (price, size) points,
    sort by (price asc, size desc), and a point survives iff the
    running max of size over STRICTLY-preceding points is below its
    own size — preceding points have price ≤ (ties size-descending),
    so any with size ≥ dominates. O(n log n) instead of the naive
    O(n²) dominance join, and the tie semantics are deterministic
    because duplicates were collapsed first (carrying count and min
    key as the representative).

    Scale: partitioned by brand — the frontier of each partition is
    independent; a global (unpartitioned) skyline at 100 TB would
    instead pre-prune with a coarse grid (each cell keeps its local
    frontier, the union re-runs the same window) — same operator,
    applied twice.
    """
    p = load_table(spark, sf_dir, "part")
    pts = p.groupBy(
        "p_brand",
        EX.cents("p_retailprice").alias("price_c"),
        F.col("p_size").alias("size"),
    ).agg(
        F.count("*").alias("n_parts"), F.min("p_partkey").alias("min_partkey")
    )
    w = (
        W.partitionBy("p_brand")
        .orderBy(F.asc("price_c"), F.desc("size"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    sky = pts.withColumn("mx", F.max("size").over(w))
    return sky.filter(F.col("mx").isNull() | (F.col("mx") < F.col("size"))).select(
        "p_brand",
        EX.val_round4(F.col("price_c"), 2).alias("price"),
        "size",
        "n_parts",
        "min_partkey",
    )
