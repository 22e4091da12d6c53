"""Round-10 promotion registrations (prepared in round 9, registered in
round 10).

The five remaining pytest-only operators of SURVEY §2.2 (compaction /
sort-clustering, Z-order rewrite, data-skipping index, training-shard
writer, incremental line index) register HERE as driver-checkable
queries, fully oracled. They were written and differentially
pre-verified in r9 (tests/test_promotions_r10.py executes each at
sf0.001 AND hash-compares it against its DuckDB oracle with the
driver's own canonicalizer, tools/parity.py) but deliberately NOT
``@query``-registered then: test_registry_contract.py forces every
never-driver-checked registration into the 50-row priority window, and
the r9 window was the r8 verdict's documented refresh queue (already
over-full at 57 candidates). In r10 the five names head ``_PRIORITY``
as never-checked rows, exactly as registry.py's round-10 queue note
promised.

All five follow the q_upsert_merge scratch-table template
(queries/layout.py:89): the driver's read-only table is copied to a
pid-scoped scratch path, the input-REWRITING operator runs there, and
the oracle asserts the LOGICAL content — invariant under the rewrite —
while the physical claims (file counts, range disjointness, skip
selectivity, publish atomicity) stay pinned in pytest
(tests/test_maintenance.py, test_skipping.py, test_shards.py,
test_operators.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_map_reduce_spark.functions import round4
from kafka_map_reduce_spark.queries import twins
from kafka_map_reduce_spark.queries.twins import _LINE_TOKENS
from kafka_map_reduce_spark.registry import query
from kafka_map_reduce_spark.sources import load_table, scratch_path

ORACLE_COMPACT_CLUSTER = """
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
"""


@query("q_compact_cluster", oracle=ORACLE_COMPACT_CLUSTER)
def q_compact_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction + sort-clustering
    (operators/maintenance.py:cluster_parquet) as a driver row: the
    documents table is scattered into 64 micro-batch-sized files (the
    layout a streaming sink leaves behind — the reference's 128-row
    HTTP batches, clickhouse.rs:65-139, are the same pathology), then
    rewritten to ~1 range-clustered file per 4 MiB via
    write-audit-publish. The returned content must equal the original
    table exactly (the oracle's whole point: a maintenance rewrite is
    only correct if it is invisible to every reader); the file-count
    collapse is self-asserted in-query, while range disjointness and
    crash-safe publish stay pytest-pinned (tests/test_maintenance.py).

    100 TB framing: a per-micro-batch sink emits millions of KB files;
    scan cost becomes file-open-bound. Compaction is the merge-tree
    analogue — O(slice) rewrite, amortized across every later scan."""
    from kafka_map_reduce_spark.operators.maintenance import cluster_parquet

    path = scratch_path(sf_dir, "compact")
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    base.repartition(64).write.mode("overwrite").parquet(path)
    stats = cluster_parquet(
        spark, path, ["doc_id"], target_file_bytes=4 * 1024 * 1024
    )
    if stats["after"]["n_files"] >= stats["before"]["n_files"]:
        raise AssertionError(
            f"compaction did not reduce file count: {stats}"
        )
    return spark.read.parquet(path).select("doc_id", "source", "n_chars")


ORACLE_ZORDER_REWRITE = """
    SELECT event_id, user_id, event_type,
           floor(value * 10000 + 0.5) / 10000 AS value4
    FROM events
    WHERE event_id BETWEEN 100 AND 4999 AND user_id BETWEEN 0 AND 9
"""


@query("q_zorder_rewrite", oracle=ORACLE_ZORDER_REWRITE)
def q_zorder_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) rewrite
    (operators/maintenance.py:zorder_parquet) as a driver row: events
    scattered into 32 files, Z-ordered on (event_id, user_id), then
    read back through a predicate on BOTH dimensions. The oracle
    asserts rewrite invariance — the multi-dimensional filter returns
    exactly the pre-rewrite rows; the selectivity claim (files prune
    on EITHER dimension, vs lexicographic clustering's leading-key
    bias) is measured in pytest (tests/test_maintenance.py asserts
    Z-order beats lexicographic on trailing-key skip fraction).

    100 TB framing: the standard layout for a fact table filtered or
    joined on 2-3 independent keys — one curve keeps every file's
    bounding box small in all of them, so the skipping index
    (q_skipping_prune) prunes on any. Pure JVM bit-interleave, no
    UDF, one range-repartition exchange."""
    from kafka_map_reduce_spark.operators.maintenance import zorder_parquet

    path = scratch_path(sf_dir, "zorder")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.repartition(32).write.mode("overwrite").parquet(path)
    zorder_parquet(
        spark,
        path,
        ["event_id", "user_id"],
        target_file_bytes=1 * 1024 * 1024,
        bits=12,
    )
    return (
        spark.read.parquet(path)
        # bounds chosen to stay DENSE at every sf (user_id cardinality
        # scales with sf; a narrow fixed window would thin the sf0.1
        # result to a handful of rows — weak hash evidence)
        .filter(F.col("event_id").between(100, 4999))
        .filter(F.col("user_id").between(0, 9))
        .select(
            "event_id",
            "user_id",
            "event_type",
            round4(F.col("value")).alias("value4"),
        )
    )


ORACLE_SKIPPING_PRUNE = """
    SELECT event_id, event_type,
           floor(value * 10000 + 0.5) / 10000 AS value4
    FROM events
    WHERE value >= 50.0 AND value <= 120.0
"""


@query("q_skipping_prune", oracle=ORACLE_SKIPPING_PRUNE)
def q_skipping_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level data skipping (operators/skipping.py) as a driver
    row: events are value-clustered to scratch, a footer-stats index
    is built (one (file, column, min/max) row per file — a
    metadata-only executor-side pass over parquet footers), and
    ``pruned_read`` serves a range predicate from only the files whose
    [min, max] overlaps it. The residual filter still runs, so the
    result equals full-scan + filter EXACTLY — which is what the
    oracle hash-checks; the claim that pruning actually skips files
    is pytest-pinned (tests/test_skipping.py).

    100 TB framing: partition pruning only helps for partition
    columns; footer-stats skipping is the table-format answer for
    everything else. The index is itself a DataFrame — persisted, the
    skip decision for a 10M-file lake is one broadcast-sized scan,
    not 10M footer reads per query."""
    from kafka_map_reduce_spark.operators.maintenance import cluster_parquet
    from kafka_map_reduce_spark.operators.skipping import (
        collect_file_stats,
        pruned_read,
    )

    path = scratch_path(sf_dir, "skipping")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    ev.repartition(16).write.mode("overwrite").parquet(path)
    cluster_parquet(spark, path, ["value"], target_file_bytes=256 * 1024)
    stats = collect_file_stats(spark, path, ["value"])
    return pruned_read(
        spark, path, "value", 50.0, 120.0, stats=stats
    ).select(
        "event_id",
        "event_type",
        round4(F.col("value")).alias("value4"),
    )


ORACLE_SHARD_MANIFEST = """
    WITH r AS (
      SELECT row_number() OVER (ORDER BY doc_id) AS sample_id
      FROM documents
    )
    SELECT CAST(floor((sample_id - 1) / 128) AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(sample_id) AS BIGINT) AS first_id,
           CAST(max(sample_id) AS BIGINT) AS last_id
    FROM r
    GROUP BY 1
"""


@query("q_shard_manifest", oracle=ORACLE_SHARD_MANIFEST)
def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard writer (operators/shards.py:write_shards) as a
    driver row: the documents table is materialized as 128-row shards
    in stable doc_id order (128 = the reference sink's batch cap,
    clickhouse.rs:65-139 — the same fixed-quantum delivery contract,
    re-expressed as the webdataset/tfrecord shard layout over
    parquet), and the returned MANIFEST — one row per shard with its
    contiguous global id range — is hash-checked against a plain
    row_number()/GROUP BY oracle. Shard-size exactness and range
    contiguity are ALSO asserted inside the operator (it raises on
    violation), so a manifest that hashes equal is one the operator
    already audited; rerun idempotence and file layout are
    pytest-pinned (tests/test_shards.py).

    100 TB framing: the global order comes from the two-phase dense
    enumeration (operators/ids.py:contiguous_row_ids — no
    single-reducer sort); shard assignment is a narrow integer
    division; the write is partitionBy(shard). Nothing corpus-sized
    touches the driver — the manifest is O(shards)."""
    from kafka_map_reduce_spark.operators.shards import write_shards

    out_dir = scratch_path(sf_dir, "shards")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    manifest = write_shards(
        d, out_dir, ["doc_id"], rows_per_shard=128, id_col="sample_id"
    )
    return manifest.select(
        F.col("shard").cast("long").alias("shard"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("first_id").cast("long").alias("first_id"),
        F.col("last_id").cast("long").alias("last_id"),
    )


ORACLE_LINE_INDEX_INCREMENTAL = f"""
    WITH {twins.line_hashes()}
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_lines
    FROM lines JOIN cnt USING (h)
    GROUP BY doc_id
"""


@query("q_line_index_incremental", oracle=ORACLE_LINE_INDEX_INCREMENTAL)
def q_line_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental line index (operators/dedup.py:append_line_counts /
    compact_line_index / boilerplate_against) as a driver row: the
    corpus arrives as THREE batches (doc_id mod 3), each appending its
    line-hash counts as a delta partition of the persisted index (the
    LSM shape — ingest cost is one batch-sized aggregate + write,
    never an index rewrite); a compaction pass folds the deltas; then
    every document is scored against the final index. The oracle is
    the full-recompute boilerplate score over the whole corpus — the
    identity that makes the index INCREMENTAL rather than merely
    cached (sum is associative across deltas; compaction preserves
    it). The same identity at 3-batch granularity plus
    compaction-equivalence is pytest-pinned (tests/test_operators.py).

    100 TB framing: this is the streaming face of q_text_boilerplate —
    per-batch cost tracks the batch (one 16-byte-keyed aggregate with
    map-side combine on the Zipf head), read amplification is bounded
    by compaction, and the index never touches the driver."""
    from kafka_map_reduce_spark.operators.dedup import (
        append_line_counts,
        boilerplate_against,
        compact_line_index,
        line_hashes,
    )

    index_path = scratch_path(sf_dir, "lineidx")
    d = load_table(spark, sf_dir, "documents")
    lines = line_hashes(
        d, "text", "doc_id", line_tokens=_LINE_TOKENS
    ).localCheckpoint(eager=True)
    for b in range(3):
        append_line_counts(
            lines.filter(F.col("id") % 3 == b), index_path, batch_id=b
        )
    compact_line_index(spark, index_path)
    return boilerplate_against(lines, spark, index_path).select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_dup_lines").cast("long").alias("n_dup_lines"),
    )


# The registration inventory, machine-readable: (query name, function,
# oracle SQL). tests/test_promotions_r10.py drives both the
# differential pins and the registered-at-window-head shape check
# off this list.
R10_REGISTRATIONS = [
    ("q_compact_cluster", q_compact_cluster, ORACLE_COMPACT_CLUSTER),
    ("q_zorder_rewrite", q_zorder_rewrite, ORACLE_ZORDER_REWRITE),
    ("q_skipping_prune", q_skipping_prune, ORACLE_SKIPPING_PRUNE),
    ("q_shard_manifest", q_shard_manifest, ORACLE_SHARD_MANIFEST),
    (
        "q_line_index_incremental",
        q_line_index_incremental,
        ORACLE_LINE_INDEX_INCREMENTAL,
    ),
]
