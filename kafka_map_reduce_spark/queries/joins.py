"""Joins (SURVEY §2.2): inner/multiway/outer/semi/anti/cross/theta/as-of.

Scale notes: dimension tables (region/nation/customer/supplier/part) are
explicitly broadcast — at 100 TB the fact side (lineitem/orders/events)
never shuffles for these joins. Fact-fact joins shuffle on their keys and
rely on AQE for skew splitting. The as-of join uses the union+window
formulation (one shuffle, no range explosion — operators/asof.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_map_reduce_spark.functions import dsum4, o_sum4
from kafka_map_reduce_spark.operators import asof_join
from kafka_map_reduce_spark.registry import query
from kafka_map_reduce_spark.sources import Tables, load_table


@query(
    "q_join_inner",
    oracle=f"""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 10000
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join, dimension side broadcast."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.filter(F.col("o_totalprice") > 10000)
        .join(F.broadcast(t.customer), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
    )


@query(
    "q_join_multiway",
    oracle=f"""
    SELECT r.r_name, n.n_name,
           {o_sum4('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
           CAST(count(*) AS BIGINT) AS line_cnt
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    ORDER BY r.r_name, n.n_name
    """,
    tags=("flagship",),
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join (TPC-H Q5 shape): fact table joins only broadcast
    dims, so the single shuffle is the final group-by.

    r17 (guide §3 join shaping): the customer -> nation -> region
    snowflake is PRE-JOINED into one (c_custkey, n_name, r_name)
    broadcast dimension, so every fact row probes 2 hash tables
    (orders, the pre-joined dim) instead of 4. Inner equi-joins are
    associative, so the result is identical (oracle hash-checked); the
    dim-side extra work is dimension-sized. Broadcast-ability is
    unchanged — the pre-join is exactly the customer table already
    being broadcast, narrowed to 3 columns. The lineitem scan is fanned
    out (keyed fan_out_scan, no-op at corpus scale) because the probe +
    decimal partial-aggregate pipeline otherwise runs on the
    one-row-group bench scan's single task — the r11 round-robin A/B
    read neutral (0.98) against the 4-probe chain; with 2 probes and
    the sort-free keyed exchange the interleaved A/B reads 1.437 ->
    1.274 s min-of-5."""
    from kafka_map_reduce_spark.sources import fan_out_scan

    t = Tables(spark, sf_dir)
    cnr = (
        t.customer.select("c_custkey", "c_nationkey")
        .join(t.nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(t.region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "n_name", "r_name")
    )
    li = fan_out_scan(t.lineitem, key=("l_orderkey", "l_linenumber"))
    return (
        # lineitem ⋈ orders is fact-fact: shuffle hash join on the key
        # at corpus scale; everything after joins only broadcast dims.
        li.join(t.orders.select("o_orderkey", "o_custkey"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cnr), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("r_name", "n_name")
        .agg(
            dsum4(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("line_cnt"),
        )
        .orderBy("r_name", "n_name")
    )


@query(
    "q_join_left",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           CAST(count(o.o_orderkey) AS BIGINT) AS order_cnt,
           {o_sum4('coalesce(o.o_totalprice, 0)', 'spent')}
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with null-extension (customers without orders)."""
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("order_cnt"),
            dsum4(F.coalesce(F.col("o_totalprice"), F.lit(0))).alias("spent"),
        )
    )


@query(
    "q_join_right",
    oracle="""
    SELECT o.o_orderkey, c.c_custkey, c.c_acctbal
    FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (orders null-extended for order-less customers)."""
    t = Tables(spark, sf_dir)
    return t.orders.join(
        t.customer, F.col("o_custkey") == F.col("c_custkey"), "right"
    ).select("o_orderkey", "c_custkey", "c_acctbal")


@query(
    "q_join_full",
    oracle="""
    SELECT strftime(coalesce(od.d, ld.d), '%Y-%m-%d') AS d, od.o_cnt, ld.l_cnt
    FROM (SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS o_cnt
          FROM orders GROUP BY 1) od
    FULL OUTER JOIN
         (SELECT CAST(l_shipdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS l_cnt
          FROM lineitem GROUP BY 1) ld
    ON od.d = ld.d
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregates (per-day order vs ship counts).

    The join key is coalesced so the full-outer null-extension doesn't
    blank it; emitted as a string for engine-neutral date representation.
    """
    t = Tables(spark, sf_dir)
    od = t.orders.groupBy(F.to_date("o_orderdate").alias("od_d")).agg(
        F.count(F.lit(1)).alias("o_cnt")
    )
    ld = t.lineitem.groupBy(F.to_date("l_shipdate").alias("ld_d")).agg(
        F.count(F.lit(1)).alias("l_cnt")
    )
    return od.join(ld, F.col("od_d") == F.col("ld_d"), "full").select(
        F.date_format(F.coalesce(F.col("od_d"), F.col("ld_d")), "yyyy-MM-dd").alias("d"),
        "o_cnt",
        "l_cnt",
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 20000)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence join (EXISTS) as left-semi."""
    t = Tables(spark, sf_dir)
    big = t.orders.filter(F.col("o_totalprice") > 20000)
    return t.customer.join(
        big, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS)."""
    t = Tables(spark, sf_dir)
    return t.customer.join(
        t.orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "q_join_cross",
    oracle="""
    SELECT a.r_name AS r1, b.r_name AS r2
    FROM region a CROSS JOIN region b
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (explicit crossJoin of tiny dims)."""
    t = Tables(spark, sf_dir)
    a = t.region.select(F.col("r_name").alias("r1"))
    b = t.region.select(F.col("r_name").alias("r2"))
    return a.crossJoin(b)


@query(
    "q_join_theta",
    oracle="""
    SELECT a.n_name AS n1, b.n_name AS n2, a.n_regionkey AS rk
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi join: equi part hash-partitions, inequality as residual
    predicate (no full nested loop)."""
    t = Tables(spark, sf_dir)
    a = t.nation.select(
        F.col("n_name").alias("n1"),
        F.col("n_nationkey").alias("k1"),
        F.col("n_regionkey").alias("rk"),
    )
    b = t.nation.select(
        F.col("n_name").alias("n2"),
        F.col("n_nationkey").alias("k2"),
        F.col("n_regionkey").alias("rk2"),
    )
    return (
        a.join(b, (F.col("rk") == F.col("rk2")) & (F.col("k1") < F.col("k2")))
        .select("n1", "n2", "rk")
    )


@query(
    "q_join_asof",
    oracle="""
    WITH purchases AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        WHERE event_type = 'purchase'
    ),
    clicks AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               max(event_id) AS click_event_id
        FROM events WHERE event_type = 'click'
        GROUP BY user_id, CAST(ts AS TIMESTAMP)
    )
    SELECT p.event_id AS purchase_id, p.user_id,
           c.click_event_id AS r_event_id
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest click at or
    before it (stream-enrichment pattern; custom operator, one shuffle)."""
    t = Tables(spark, sf_dir)
    ev = t.events
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("event_id"))
    )
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["event_id"],
    ).select("purchase_id", "user_id", "r_event_id")


@query(
    "q_join_range_bucket",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS other_id, a.user_id,
           CAST(datediff('second', a.ts, b.ts) AS BIGINT) AS lag_s
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 300 SECOND
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
    """,
)
def q_join_range_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via bucketed equi-join (operators/rangejoin.py): the
    range predicate is reduced to a hash join on (user_id, time-bucket)
    plus a residual filter — the plan that replaces the nested-loop a raw
    BETWEEN would produce, and the batch face of q_stream_join."""
    from kafka_map_reduce_spark.operators.rangejoin import interval_bucket_join

    ev = Tables(spark, sf_dir).events.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("other_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("b_ts"),
    )
    joined = interval_bucket_join(
        clicks, buys, ["user_id"], "ts", "b_ts", window_seconds=300
    )
    return joined.select(
        "click_id",
        "other_id",
        "user_id",
        (F.unix_timestamp("b_ts") - F.unix_timestamp("ts")).alias("lag_s"),
    )


@query(
    "q_join_null_safe",
    oracle="""
    WITH o AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 0 THEN NULL
                    ELSE o_orderkey % 50 END AS k
        FROM orders WHERE o_orderkey < 100
    ),
    c AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 10 = 0 THEN NULL
                    ELSE c_custkey % 50 END AS k
        FROM customer WHERE c_custkey < 100
    )
    SELECT o.o_orderkey, c.c_custkey,
           CAST(coalesce(o.k, -1) AS BIGINT) AS k
    FROM o JOIN c ON o.k IS NOT DISTINCT FROM c.k
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of dropping out — the join SQL NULL semantics
    make easy to get wrong. Spark keeps eqNullSafe a hash-join key
    (EqualNullSafe is sargable), so the plan is the same shuffled equi-join
    as q_join_inner, no nested loop. Derived nullable keys (every 10th id)
    guarantee both the null-match and value-match paths are exercised."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 100)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 10 == 0, F.lit(None))
            .otherwise(F.col("o_orderkey") % 50)
            .alias("ko"),
        )
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 100)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 10 == 0, F.lit(None))
            .otherwise(F.col("c_custkey") % 50)
            .alias("kc"),
        )
    )
    return o.join(c, F.col("ko").eqNullSafe(F.col("kc"))).select(
        "o_orderkey",
        "c_custkey",
        F.coalesce(F.col("ko"), F.lit(-1)).cast("long").alias("k"),
    )
