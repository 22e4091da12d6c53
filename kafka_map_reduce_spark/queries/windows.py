"""Window functions (SURVEY §2.2): ranking, running totals, lead/lag,
bounded frames.

Determinism: every ORDER BY carries a unique tiebreaker; windowed double
sums accumulate in DECIMAL so frame association order can't shift bits
(functions/compat.py rationale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_map_reduce_spark.functions import round4
from kafka_map_reduce_spark.registry import query
from kafka_map_reduce_spark.sources import load_table


@query(
    "q_window_rank",
    oracle="""
    SELECT * FROM (
        SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
               row_number() OVER w AS rn,
               rank() OVER w2 AS rk,
               dense_rank() OVER w2 AS dr
        FROM lineitem
        WINDOW w AS (PARTITION BY l_returnflag
                     ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber),
               w2 AS (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC)
    ) WHERE rn <= 10
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank; top-10 per group — two-stage.

    l_returnflag has cardinality 3, so the naive single window sorts
    the whole table at parallelism 3 (the one reducer per flag owns
    every row — at 100 TB, three tasks sort the world). Stage 1 instead
    takes each INPUT partition's top-10 per flag under the full w
    ordering (keys spread over partitions x flags, the partial
    TakeOrdered — same shape as operators/similarity.ranked_topk);
    stage 2 runs the original windows on the <= partitions x flags x 10
    survivors. Exact, not approximate: a global-top-10 row's rn/rk/dr
    depend only on rows ordered before it, every one of which is itself
    global-top-10 and therefore survives its local cut (if a partition
    drops a row, the 10 rows beating it locally all precede it — and
    any row they precede — so pruned row_number can never understate);
    the unchanged full-table SQL oracle hash-checks exactly this.

    r7 measurement (sf0.1, isolated min-of-3, warm): scan alone 0.14 s;
    one-window form 1.01 s; two-stage 1.14 s. So the r4->r6 bench drift
    (0.695 -> 0.930 s) was machine noise, not a plan change — the old
    form re-measures at 1.01 s today — and at toy scale the two-stage's
    extra exchange costs ~0.13 s more than parallelism 3 -> 96 saves.
    The two-stage is kept anyway: it is the only form whose sort cost
    shrinks with cluster size (the one-window form sorts the full table
    on exactly 3 tasks forever).

    fan_out_scan (r12, queued from the r11 A/B at 0.75): the stage-1
    partial TakeOrdered is exactly the CPU-heavy narrow work a
    single-row-group scan serializes onto one core; fanning the scan
    is output-invariant here BY the two-stage proof above — the local
    cut is correct under ANY partitioning of the input."""
    from kafka_map_reduce_spark.sources import fan_out_scan

    li = fan_out_scan(
        load_table(spark, sf_dir, "lineitem"), key=("l_orderkey", "l_linenumber")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), "l_orderkey", "l_linenumber"
    )
    w1 = Window.partitionBy(
        F.spark_partition_id(), "l_returnflag"
    ).orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
    w2 = Window.partitionBy("l_returnflag").orderBy(F.desc("l_extendedprice"))
    pruned = (
        li.select(
            "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
        )
        .withColumn("__r", F.row_number().over(w1))
        .filter(F.col("__r") <= 10)
        .drop("__r")
    )
    return (
        pruned.select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_extendedprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w2).alias("rk"),
            F.dense_rank().over(w2).alias("dr"),
        )
        .filter(F.col("rn") <= 10)
    )


@query(
    "q_window_running",
    oracle="""
    SELECT event_id, user_id,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS DOUBLE)
             AS running_value,
           CAST(count(*) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS running_cnt
    FROM events
    """,
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum/count per key (cumulative frame)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).over(w), 4)
        .cast("double")
        .alias("running_value"),
        F.count(F.lit(1)).over(w).alias("running_cnt"),
    )


@query(
    "q_window_lead_lag",
    oracle="""
    SELECT event_id, user_id,
           lag(event_id)  OVER w AS prev_event,
           lead(event_id) OVER w AS next_event,
           event_id - lag(event_id) OVER w AS id_gap
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead — the offset-gap detection of the delivery audit
    (README.md:89-99) recast per-row."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.lag("event_id").over(w).alias("prev_event"),
        F.lead("event_id").over(w).alias("next_event"),
        (F.col("event_id") - F.lag("event_id").over(w)).alias("id_gap"),
    )


@query(
    "q_window_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))) OVER w, 4) AS DOUBLE)
             AS mov_sum,
           floor((CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                  / count(*) OVER w) * 10000 + 0.5) / 10000 AS mov_avg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def q_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded rows frame: 3-row moving sum + average."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    dec_sum = F.sum(F.col("value").cast("decimal(18,6)")).over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.round(dec_sum, 4).cast("double").alias("mov_sum"),
        round4(dec_sum.cast("double") / F.count(F.lit(1)).over(w)).alias("mov_avg"),
    )


@query(
    "q_window_time_range",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS trailing_n,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))) OVER w, 4) AS DOUBLE)
             AS trailing_sum
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 -- floor() before the BIGINT cast: DuckDB rounds on
                 -- double->int casts while Spark's timestamp->long cast
                 -- truncates; fractional-second events near a frame
                 -- boundary would otherwise land in different frames
                 ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def q_window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: per-row trailing 1-hour event count + value
    sum per user — the rolling-metric shape rows-frames can't express
    (peers at the same instant aggregate together; frame width follows
    event TIME, not row count). Epoch-seconds ordering keeps the frame a
    numeric range, identical in both engines; decimal accumulation keeps
    the sum partition-order-proof. One user_id shuffle, like every other
    window in this family."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        # NTZ has no direct long cast in ANSI mode; via timestamp (session
        # tz pinned UTC) it is the same epoch() the oracle computes.
        .orderBy(F.col("ts").cast("timestamp").cast("long"))
        .rangeBetween(-3600, Window.currentRow)
    )
    dec_sum = F.sum(F.col("value").cast("decimal(18,6)")).over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("trailing_n"),
        F.round(dec_sum, 4).cast("double").alias("trailing_sum"),
    )


@query(
    "q_window_dist",
    oracle="""
    SELECT event_id, user_id,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           floor((percent_rank() OVER w) * 10000 + 0.5) / 10000 AS pct_rank,
           floor((cume_dist() OVER w) * 10000 + 0.5) / 10000 AS cdist
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
    """,
)
def q_window_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile / percent_rank / cume_dist."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.ntile(4).over(w).alias("quartile"),
        round4(F.percent_rank().over(w)).alias("pct_rank"),
        round4(F.cume_dist().over(w)).alias("cdist"),
    )


@query(
    "q_window_value_funcs",
    oracle="""
    SELECT event_id, user_id,
           first_value(event_id) OVER w AS first_ev,
           last_value(event_id)  OVER w AS last_ev,
           nth_value(event_id, 2) OVER w AS second_ev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_value_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value window functions: first/last/nth over a full-partition frame."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.first("event_id").over(w).alias("first_ev"),
        F.last("event_id").over(w).alias("last_ev"),
        F.nth_value("event_id", 2).over(w).alias("second_ev"),
    )
