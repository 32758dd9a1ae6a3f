"""Relational queries over the TPC-H and events tables: aggregates,
joins, rollups and windows, each with a hand-written DuckDB twin."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from driver.common import query, table


@query("event_sessions", """
            WITH o AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS new_s
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (
              SELECT user_id, event_id, ts,
                     CAST(sum(new_s) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS BIGINT) AS session_id
              FROM o)
            SELECT user_id, session_id, count(*) AS n_events,
                   min(ts) AS session_start, max(ts) AS session_end
            FROM s GROUP BY 1, 2 ORDER BY 1, 2
        """)
def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (the classic large-scale clickstream shape):
    a >30 min silence starts a new session. lag + running sum windows — both
    partition-local per user after one shuffle."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        # interval comparison: exact to the microsecond, timezone-free (ts is
        # TIMESTAMP_NTZ), and identical semantics in the DuckDB oracle
        .withColumn("new_s", F.when(
            F.col("prev_ts").isNull()
            | (F.col("ts") - F.col("prev_ts") > F.expr("INTERVAL 30 MINUTES")),
            1).otherwise(0))
        .withColumn("session_id", F.sum("new_s").over(w))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"))
        .orderBy("user_id", "session_id")
    )


@query("top_parts_by_brand", """
            WITH agg AS (
              SELECT p_brand, p_partkey,
                     round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY 1, 2),
            r AS (
              SELECT p_brand, p_partkey, revenue,
                     row_number() OVER (PARTITION BY p_brand
                                        ORDER BY revenue DESC, p_partkey ASC) AS rank
              FROM agg)
            SELECT p_brand, p_partkey, revenue, rank FROM r WHERE rank <= 3
            ORDER BY p_brand, rank
        """)
def q_top_parts_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by revenue within each brand: join + agg + per-group
    top-k window (rank computed AFTER rounding, part-key tie-break)."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    agg = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("revenue"), F.asc("p_partkey"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .orderBy("p_brand", "rank")
    )


@query("pricing_summary", """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query("revenue_by_nation", """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
        """)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
        .orderBy("n_name")
    )


@query("quantity_quartiles", """
            WITH b AS (
              SELECT round(quantile_cont(l_quantity, 0.25), 6) AS q1,
                     round(quantile_cont(l_quantity, 0.50), 6) AS q2,
                     round(quantile_cont(l_quantity, 0.75), 6) AS q3
              FROM lineitem),
            g AS (
              SELECT l_quantity,
                     CASE WHEN l_quantity <= q1 THEN 1
                          WHEN l_quantity <= q2 THEN 2
                          WHEN l_quantity <= q3 THEN 3
                          ELSE 4 END AS grade
              FROM lineitem CROSS JOIN b)
            SELECT grade, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
            FROM g GROUP BY grade ORDER BY grade
        """)
def q_quantity_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile grading WITHOUT a global window: an unpartitioned
    ntile/row_number funnels the whole table through ONE task — dead at
    100 TB. Instead: exact quartile boundaries via one aggregate (partial
    agg merges per-partition), broadcast the 1-row boundary frame, assign
    grades with a CASE — a single map pass, fully parallel. Boundaries are
    rounded to 6 dp in both engines so the CASE comparisons are identical."""
    li = table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.round(F.percentile("l_quantity", F.lit(0.25)), 6).alias("q1"),
        F.round(F.percentile("l_quantity", F.lit(0.50)), 6).alias("q2"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 6).alias("q3"),
    )
    graded = li.crossJoin(F.broadcast(bounds)).withColumn(
        "grade",
        F.when(F.col("l_quantity") <= F.col("q1"), 1)
        .when(F.col("l_quantity") <= F.col("q2"), 2)
        .when(F.col("l_quantity") <= F.col("q3"), 3)
        .otherwise(4),
    )
    return (
        graded.groupBy("grade")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy("grade")
    )


@query("event_median", """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS median_value,
                   count(*) AS n
            FROM events GROUP BY event_type ORDER BY event_type
        """)
def q_event_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.round(F.percentile("value", F.lit(0.5)), 6).alias("median_value"),
             F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@query("user_event_sequence", """
            SELECT user_id,
                   string_agg(event_type, '>' ORDER BY ts, event_id) AS seq,
                   count(*) AS n_events
            FROM events GROUP BY user_id ORDER BY user_id
        """)
def q_user_event_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("seq"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


@query("top1_event_per_user", """
            WITH r AS (
              SELECT user_id, event_id, event_type, value,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY value DESC, event_id ASC) AS rn
              FROM events)
            SELECT user_id, event_id, event_type, round(value, 6) AS value
            FROM r WHERE rn = 1
        """)
def q_top1_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.round("value", 6).alias("value"))
    )


@query("events_hourly", """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n, round(avg(value), 6) AS avg_value
            FROM events GROUP BY 1, 2
        """)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
    )


@query("customers_without_orders", """
            SELECT c_custkey, c_name, c_nationkey
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_totalprice > 400000)
            ORDER BY c_custkey
        """)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no big-ticket order (anti join against a filtered
    right side — the filter makes the result non-trivial on the test SF)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_nationkey")
        .orderBy("c_custkey")
    )


@query("priority_late_orders", """
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders
            WHERE EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """)
def q_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with at least one near-full-quantity lineitem, counted per
    priority (TPC-H Q4 shape: semi join + group)."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    big = li.filter(F.col("l_quantity") >= 48)
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@query("returnflag_rollup", """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        """)
def q_returnflag_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(),
                 F.col("l_linestatus").asc_nulls_first())
    )

