"""kafka_map_reduce_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference stream-processing framework (john-z-yang/kafka-map-reduce,
studied at /root/reference), re-expressed Spark-first:

- Tier A: the reference's dataflow operators (source -> par_map -> map/reduce
  -> sink, with DLQ + offset commit; /root/reference/src/lib.rs:235-383)
  mapped onto Structured Streaming (``streaming/``).
- Tier B: the relational query surface its verification SQL exercises
  (/root/reference/README.md:86-113), generalized to a full DataFrame/SQL
  operator inventory (``queries/``).
- Tier C: LLM-data-pipeline operators (dedup, similarity search, multimodal
  columns, text analysis) designed for 100 TB scale (``operators/``).
"""

from pyspark.taskcontext import TaskContext

from kafka_map_reduce_spark.session import configure, get_session
from kafka_map_reduce_spark.registry import REGISTRY, query

if TaskContext.get() is not None:  # inside a Python worker task
    from kafka_map_reduce_spark import _zipcache

    _zipcache.install()

__all__ = ["configure", "get_session", "REGISTRY", "query"]
__version__ = "0.1.0"
