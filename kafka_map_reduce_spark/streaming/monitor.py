"""Streaming corpus-mixture monitor: per-micro-batch domain counts into
an append-only stats table, drift read off the stats — never a corpus
rescan.

A training-corpus ingest wants to know, continuously, whether the
arriving mix still matches the target mixture (a crawler source going
dark or a feed flooding shifts every downstream temperature weight).
The scale contract mirrors the incremental dedup/HLL indexes: each
micro-batch contributes ONE tiny aggregate (domains x 1 rows, KBs)
written under a ``batch=<id>/`` partition, and the report aggregates
O(batches x domains) stats rows.

Idempotence follows the ingest_micro_batch convention
(queries/streaming_live.py): every write is an OVERWRITE of its own
batch_id-keyed partition, so an at-least-once redelivery rewrites
exactly its own rows — the monitor reads no prior state (no
read-own-write hazard), retries are trivially safe.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_map_reduce_spark.functions import round4


def mixture_stats_batch(
    batch_df: DataFrame,
    batch_id,
    stats_path: str,
    domain_col: str = "source",
) -> None:
    """Append one (domain, n) aggregate for this micro-batch under
    ``batch=<id>/`` (overwrite = idempotent under redelivery)."""
    counts = batch_df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n")
    )
    counts.write.mode("overwrite").parquet(
        os.path.join(stats_path, f"batch={batch_id}")
    )


def mixture_monitor_stream(
    stream_df: DataFrame,
    stats_path: str,
    checkpoint_path: str,
    domain_col: str = "source",
):
    """Wire the stats writer as a foreachBatch sink; returns the started
    query (availableNow — the caller drains it)."""
    return (
        stream_df.writeStream.foreachBatch(
            lambda b, i: mixture_stats_batch(b, i, stats_path, domain_col)
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def mixture_drift_report(
    spark, stats_path: str, targets: DataFrame, tolerance: float = 0.02
) -> DataFrame:
    """(domain, n_docs, obs_frac, tgt_frac, drift, over) from the stats
    table alone — O(batches x domains) rows in, never the corpus.

    ``targets`` is a (domain, tgt_frac) table (broadcast — it is
    mixture-config-sized). Fractions floor-round to 4 decimals AFTER the
    integer aggregation so the report is bit-stable cross-engine. Both
    asymmetries of a mixture incident report: a domain present in
    targets but absent from the stream still reports (n_docs = 0, full
    negative drift — a source going dark), and a domain present in the
    STREAM but absent from targets reports with tgt_frac = 0.0 and
    maximal positive drift, its rows counted in the grand total — a
    flood from an unregistered source must shift the report, not vanish
    from it. Hence the full-outer join + coalesce on BOTH sides."""
    stats = spark.read.parquet(os.path.join(stats_path, "batch=*"))
    totals = stats.groupBy("domain").agg(F.sum("n").alias("n_docs"))
    # full-outer: keep target domains that never arrived AND stream
    # domains absent from the target mixture (rogue sources). Full-outer
    # equi-joins can't broadcast (Spark falls back to SMJ), but both
    # sides are O(domains) aggregate rows — the shuffle is KBs.
    joined = totals.join(targets, "domain", "full_outer").select(
        "domain",
        F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce(F.col("tgt_frac"), F.lit(0.0)).alias("tgt_frac"),
    )
    grand = joined.agg(F.sum("n_docs").alias("__total"))
    return (
        joined.join(F.broadcast(grand))
        .withColumn(
            "obs_frac",
            round4(
                F.col("n_docs")
                / F.greatest(F.col("__total"), F.lit(1)).cast("double")
            ),
        )
        .withColumn("tgt_frac", round4(F.col("tgt_frac")))
        .withColumn("drift", round4(F.col("obs_frac") - F.col("tgt_frac")))
        .withColumn(
            "over",
            (F.abs(F.col("obs_frac") - F.col("tgt_frac")) > tolerance)
            .cast("int")
            .cast("long"),
        )
        .drop("__total")
    )
