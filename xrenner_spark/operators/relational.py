"""Classic relational operator checklist (SURVEY.md §2.7): each pattern
the reference's computations reduce to, expressed as a Catalyst-optimized
DataFrame query with a DuckDB-checkable ANSI oracle.

Float discipline: raw stored doubles pass through untouched (bit-equal);
aggregated doubles are rounded; everything else is exact integer/string
arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window


def _t(spark, sf_dir, name):
    return spark.read.parquet("%s/%s.parquet" % (sf_dir, name))


# 1. scan + filter + projection (predicate pushdown / column pruning)
def rel_scan_filter(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_shipdate") >= "1995-01-01")
                      & (F.col("l_discount") > 0.05)
                      & (F.col("l_quantity") < 10))
            .select("l_orderkey", "l_partkey",
                    F.col("l_extendedprice").alias("price")))


REL_SCAN_FILTER_SQL = """
    SELECT l_orderkey, l_partkey, l_extendedprice AS price
    FROM lineitem
    WHERE l_shipdate >= '1995-01-01' AND l_discount > 0.05 AND l_quantity < 10
"""


# 2. grouped aggregation with map-side partials (TPC-H Q1 shape)
def rel_grouped_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= "1998-09-01")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.count("*").alias("count_order")))


REL_GROUPED_AGG_SQL = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
"""


# 3. broadcast hash join against a small dimension
def rel_broadcast_join(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .groupBy("p_brand")
            .agg(F.count("*").alias("n_items"),
                 F.round(F.sum("l_quantity"), 1).alias("sum_qty")))


REL_BROADCAST_JOIN_SQL = """
    SELECT p_brand, count(*) AS n_items, round(sum(l_quantity), 1) AS sum_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
"""


# 4. anti join (customers with no large orders)
def rel_anti_join(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")
            .select("c_custkey", "c_name"))


# 5. semi join (suppliers shipping large quantities)
def rel_semi_join(spark, sf_dir):
    sup = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    big = li.filter(F.col("l_quantity") > 45)
    return (sup.join(big, sup.s_suppkey == big.l_suppkey, "left_semi")
            .select("s_suppkey", "s_name"))


# 6. band / range join (events within a 60s window, same type)
def rel_band_join(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    a = ev.alias("a")
    b = ev.alias("b")
    return (a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
                   & (F.col("b.ts") >= F.col("a.ts"))
                   & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 60 SECOND"))
                   & (F.col("a.event_id") < F.col("b.event_id")))
            .groupBy(F.col("a.event_type").alias("event_type"))
            .agg(F.count("*").alias("n_pairs")))


REL_BAND_JOIN_SQL = """
    SELECT a.event_type, count(*) AS n_pairs
    FROM events a JOIN events b
      ON a.event_type = b.event_type
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 SECOND
     AND a.event_id < b.event_id
    GROUP BY a.event_type
"""


# 7. window top-1 per group (most recent order per customer)
def rel_window_top1(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    win = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    return (orders.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
            .select("o_custkey", "o_orderkey", F.col("o_totalprice").alias("price")))


REL_WINDOW_TOP1_SQL = """
    SELECT o_custkey, o_orderkey, price FROM (
        SELECT o_custkey, o_orderkey, o_totalprice AS price,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1
"""


# 8. sort + limit with deterministic tiebreak
def rel_sort_limit(spark, sf_dir):
    return (_t(spark, sf_dir, "orders")
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
            .limit(10)
            .select("o_orderkey", F.col("o_totalprice").alias("price")))


# 9. set operations
def rel_set_ops(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    heavy = li.filter(F.col("l_quantity") > 49).select(
        F.col("l_partkey").alias("partkey")).distinct()
    big = part.filter(F.col("p_size") > 40).select(
        F.col("p_partkey").alias("partkey")).distinct()
    return heavy.exceptAll(big).distinct()


REL_SET_OPS_SQL = """
    SELECT DISTINCT l_partkey AS partkey FROM lineitem WHERE l_quantity > 49
    EXCEPT
    SELECT DISTINCT p_partkey AS partkey FROM part WHERE p_size > 40
"""


# 10. multi-join chain + grouped count (join reordering playground)
def rel_join_chain(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (orders
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .groupBy("r_name", "n_name")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))


REL_JOIN_CHAIN_SQL = """
    SELECT r_name, n_name, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
"""


# ------------------------------------------------------------------
# Driver-board consolidation (round 4).  The driver's correctness
# board evaluates at most 50 catalog entries (round 3 registered 51
# and the 51st never ran), so the simplest checklist demos are paired
# into combined queries that UNION the exact original subplans
# verbatim (rel_semi_anti_join, rel_topk).
# ------------------------------------------------------------------


# 4+5. semi join + anti join, one board row: both original subplans
# verbatim, unioned with a side marker and aligned (key, name) schema.
def rel_semi_anti_join(spark, sf_dir):
    anti = (rel_anti_join(spark, sf_dir)
            .select(F.col("c_custkey").alias("key"),
                    F.col("c_name").alias("name"),
                    F.lit("anti").alias("side")))
    semi = (rel_semi_join(spark, sf_dir)
            .select(F.col("s_suppkey").alias("key"),
                    F.col("s_name").alias("name"),
                    F.lit("semi").alias("side")))
    return anti.unionAll(semi)


REL_SEMI_ANTI_JOIN_SQL = """
    SELECT c_custkey AS key, c_name AS name, 'anti' AS side FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    UNION ALL
    SELECT s_suppkey AS key, s_name AS name, 'semi' AS side FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_suppkey = s_suppkey AND l_quantity > 45)
"""


# 7+8. per-group window top-1 + global sort/limit, one board row.
def rel_topk(spark, sf_dir):
    per_cust = (rel_window_top1(spark, sf_dir)
                .select(F.col("o_custkey").alias("key"),
                        "o_orderkey", "price",
                        F.lit("per_cust").alias("scope")))
    global_top = (rel_sort_limit(spark, sf_dir)
                  .select(F.lit(-1).cast("long").alias("key"),
                          "o_orderkey", "price",
                          F.lit("global").alias("scope")))
    return per_cust.unionAll(global_top)


REL_TOPK_SQL = """
    SELECT o_custkey AS key, o_orderkey, price, 'per_cust' AS scope FROM (
        SELECT o_custkey, o_orderkey, o_totalprice AS price,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS key, o_orderkey, price, 'global' AS scope FROM (
        SELECT o_orderkey, o_totalprice AS price
        FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10)
"""


QUERIES = {
    "rel_scan_filter": (rel_scan_filter, REL_SCAN_FILTER_SQL),
    "rel_grouped_agg": (rel_grouped_agg, REL_GROUPED_AGG_SQL),
    "rel_broadcast_join": (rel_broadcast_join, REL_BROADCAST_JOIN_SQL),
    "rel_semi_anti_join": (rel_semi_anti_join, REL_SEMI_ANTI_JOIN_SQL),
    "rel_band_join": (rel_band_join, REL_BAND_JOIN_SQL),
    "rel_topk": (rel_topk, REL_TOPK_SQL),
    "rel_set_ops": (rel_set_ops, REL_SET_OPS_SQL),
    # rel_join_chain ROTATED OFF the board in round 5 (its multi-way
    # join plan is the union of operator classes the broadcast/semi-anti/
    # band join rows still demonstrate) to make room for web_url_dedup;
    # bench.py still times it.
}
