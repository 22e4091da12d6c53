"""UDF / UDAF / UDTF surface (SURVEY §2.2).

The reference's Mapper/Reducer traits ARE its UDF surface (arbitrary user
fns, /root/reference/src/lib.rs:562-571, 703-713; demo ``parse``
main.rs:22-34). Spark-first translation: Arrow-vectorized pandas UDFs —
never row-at-a-time Python in the hot path. Arithmetic inside UDFs uses
the same floor-based rounding as the oracle so results stay bit-identical.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType

from kafka_map_reduce_spark.functions import round4
from kafka_map_reduce_spark.registry import query
from kafka_map_reduce_spark.sources import load_table


@F.pandas_udf(IntegerType())
def _parse_prop_k(props: pd.Series) -> pd.Series:
    """The demo ``parse`` analogue (main.rs:22-34): decode the JSON payload,
    pull one typed field. Vectorized over Arrow batches."""
    import json

    def one(s):
        try:
            return int(json.loads(s)["k"])
        except (TypeError, ValueError, KeyError):
            return None

    return props.map(one).astype("Int32")


@query(
    "q_udf_scalar",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           floor((value * CAST(json_extract_string(props, '$.k') AS INTEGER))
                 * 10000 + 0.5) / 10000 AS weighted
    FROM events
    """,
)
def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-wise transform as a vectorized pandas UDF (the ``parse`` stage)."""
    ev = load_table(spark, sf_dir, "events")
    k = _parse_prop_k(F.col("props"))
    return ev.select(
        "event_id",
        k.alias("k"),
        round4(F.col("value") * k).alias("weighted"),
    )


@F.pandas_udf(LongType())
def _cents_sum(value: pd.Series) -> int:
    """Exact integer accumulation (value -> cents) — deterministic across
    partition orders, mirroring the Reducer accumulate contract
    (lib.rs:703-713)."""
    import numpy as np

    return int(np.floor(value.to_numpy() * 100 + 0.5).astype("int64").sum())


@F.pandas_udf(LongType())
def _row_count(value: pd.Series) -> int:
    return int(len(value))


@query(
    "q_udaf_grouped",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents_sum,
           floor((CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                  / 100.0 / count(*)) * 10000 + 0.5) / 10000 AS avg_value
    FROM events GROUP BY event_type
    """,
)
def q_udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom grouped aggregation as a GROUPED_AGG pandas UDF."""
    ev = load_table(spark, sf_dir, "events")
    # Group-agg pandas UDFs can't mix with JVM aggregates in one agg();
    # aggregate with UDFs only, derive the average in a post-projection.
    agged = ev.groupBy("event_type").agg(
        _row_count(F.col("value")).alias("n"),
        _cents_sum(F.col("value")).alias("cents_sum"),
    )
    return agged.select(
        "event_type",
        "n",
        "cents_sum",
        round4(F.col("cents_sum").cast("double") / 100.0 / F.col("n")).alias(
            "avg_value"
        ),
    )


@query(
    "q_udtf_explode",
    oracle="""
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS tok,
           CAST(generate_subscripts(string_split(text, ' '), 1) AS INTEGER) AS pos
    FROM documents
    WHERE doc_id < 100
    """,
)
def q_udtf_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1->N expansion (posexplode of tokenized text)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select("doc_id", "tok", (F.col("pos0") + 1).alias("pos"))
