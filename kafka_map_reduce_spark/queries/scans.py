"""Scans, projection, filtering, distinct (SURVEY §2.2 scans/predicates).

Each query is a pushdown-friendly declarative plan: the filter and the
column list reach the parquet scan (PushedFilters / ReadSchema in
``.explain``), which is what makes these survive a 100 TB scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_map_reduce_spark.functions import round4
from kafka_map_reduce_spark.registry import query
from kafka_map_reduce_spark.sources import load_table, scratch_path


@query(
    "q_scan_parquet",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity > 25 AND l_returnflag = 'A'
    """,
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan with projection + predicate pushdown."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") > 25) & (F.col("l_returnflag") == "A"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


@query(
    "q_scan_json_lines",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
    FROM events
    """,
)
def q_scan_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONEachRow decode — the reference's sink wire format
    (/root/reference/src/clickhouse.rs:86-88, main.rs:24-31)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), T.StructType([T.StructField("k", T.IntegerType())]))
    return ev.select("event_id", parsed.getField("k").alias("prop_k"))


@query(
    "q_projection",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor((l_extendedprice * (1 - l_discount)) * 10000 + 0.5) / 10000 AS net_price,
           floor((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 10000 + 0.5) / 10000 AS charge,
           (l_orderkey * 10 + l_linenumber) AS line_uid
    FROM lineitem
    """,
)
def q_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed arithmetic projections + aliasing — the audit's
    ``(max-min)+1 AS offset_diff`` style (README.md:91-93) generalized."""
    li = load_table(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        round4(net).alias("net_price"),
        round4(net * (1 + F.col("l_tax"))).alias("charge"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("line_uid"),
    )


@query(
    "q_filter",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_totalprice BETWEEN 1000 AND 50000
      AND o_orderstatus IN ('O', 'F')
      AND NOT (o_custkey % 7 = 0)
      AND (o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%')
      AND o_orderdate IS NOT NULL
    """,
)
def q_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate surface: comparison, AND/OR/NOT, BETWEEN, IN, LIKE, IS NULL."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_totalprice").between(1000, 50000)
        & F.col("o_orderstatus").isin("O", "F")
        & ~(F.col("o_custkey") % 7 == 0)
        & (F.col("o_orderpriority").like("1%") | F.col("o_orderpriority").like("2%"))
        & F.col("o_orderdate").isNotNull()
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


@query(
    "q_distinct",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row dedup — ``SELECT DISTINCT *`` of the delivery audit (README.md:95)."""
    return load_table(spark, sf_dir, "events").select("user_id", "event_type").distinct()


@query(
    "q_scan_csv",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source round-trip: write a header CSV, read it back with a
    locked schema — the text-format face of the source surface (schema
    inference is deliberately NOT used: at 100 TB an inference pass is a
    second full scan). The ``coalesce(1)`` below is scratch-FIXTURE-side
    only (one tidy file for the deterministic round-trip at sf0.01); the
    READ path is the splittable CSV source and parallelizes over however
    many files/splits a real dataset has."""
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = scratch_path(sf_dir, "csv")
    n.coalesce(1).write.option("header", True).csv(out)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    )
    return spark.read.schema(schema).option("header", True).csv(out)


@query(
    "q_scan_text",
    oracle="""
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
)
def q_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-line source round-trip — the log-ingestion face of the
    source surface: rows serialized as delimited lines via the text
    sink, read back as unstructured `value` lines and re-structured
    with a typed split (the classic raw-log -> columns extraction).
    Like q_scan_csv, no inference pass: the projection is the schema.
    The text source is splittable and whole-stage-codegen'd the same as
    CSV; at 100 TB it is the format most crawl/log dumps arrive in.
    The ``coalesce(1)`` is scratch-fixture-side only — the read path
    splits across files and byte ranges like any text scan."""
    d = load_table(spark, sf_dir, "documents").select(
        F.concat_ws(
            "\t",
            F.col("doc_id").cast("string"),
            F.col("source"),
            F.col("n_chars").cast("string"),
        ).alias("value")
    )
    out = scratch_path(sf_dir, "text")
    d.coalesce(1).write.text(out)
    lines = spark.read.text(out)
    parts = F.split(F.col("value"), "\t")
    return lines.select(
        parts.getItem(0).cast("long").alias("doc_id"),
        parts.getItem(1).alias("source"),
        parts.getItem(2).cast("long").alias("n_chars"),
    )


@query(
    "q_scan_orc",
    oracle="""
    SELECT r_regionkey, r_name FROM region
    """,
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source round-trip — the second columnar format (vectorized
    reader, predicate pushdown) so a user isn't parquet-locked."""
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    out = scratch_path(sf_dir, "orc")
    r.coalesce(1).write.orc(out)
    return spark.read.orc(out)


@query(
    "q_scan_partitioned",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CAST(user_id AS BIGINT) AS user_id,
           floor(value * 10000 + 0.5) / 10000 AS value
    FROM events WHERE event_type = 'click'
    """,
)
def q_scan_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition pruning: events written
    partitionBy(event_type), then read with an equality filter — the scan
    must touch ONLY the matching directory (PartitionFilters in the plan,
    asserted by tools/plancheck.py). At 100 TB partition pruning is the
    difference between scanning one partition and scanning the lake."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    out = scratch_path(sf_dir, "partitioned")
    ev.write.partitionBy("event_type").parquet(out)
    return (
        spark.read.parquet(out)
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", round4(F.col("value")).alias("value"))
    )


@query(
    "q_scan_binary",
    oracle="""
    SELECT regexp_extract(filename, '[^/]+$', 0) AS fname,
           CAST(octet_length(content) AS BIGINT) AS n_bytes,
           md5(hex(content)) AS content_md5
    FROM read_blob('/root/testdata/sf0.01/*.parquet')
    """,
)
def q_scan_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary file source (the multimodal ingestion path, SURVEY
    §2.2 Tier C): every file becomes one row of (name, size, content
    bytes). The content digest is md5-of-hex so both engines hash the
    identical byte string (DuckDB 1.0's md5 is VARCHAR-only). At 100 TB
    the binaryFile source parallelizes per file and prunes columns — a
    metadata-only projection (fname, size) never reads the payload.

    The oracle path is pinned to the driver's sf0.01 dir (the driver runs
    oracle SQL verbatim against pre-registered views, no dir parameter);
    tools/parity.py rewrites it when sweeping other scale factors."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
        .select(
            F.regexp_extract(F.col("path"), "[^/]+$", 0).alias("fname"),
            F.col("length").alias("n_bytes"),
            F.md5(F.hex(F.col("content"))).alias("content_md5"),
        )
    )
