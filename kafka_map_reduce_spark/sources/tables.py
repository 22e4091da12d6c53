"""Batch sources: the driver-materialized parquet tables (TESTDATA.md).

At cluster scale these reads are plain columnar scans — projection and
predicate pushdown reach the parquet reader because every query builds on
the raw ``spark.read.parquet`` DataFrame (no caching/collect in between).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_map_reduce_spark.session import configure

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def scratch_path(sf_dir: str, name: str) -> str:
    """An absent scratch path for one query's fixture files, scoped by
    process id, ``name`` and the scale directory. Anything left there by
    an earlier run of this process is removed; callers that need the
    directory to exist create it (parquet writers want it absent). The
    pid scope keeps concurrent runs (parity, plancheck, test workers)
    from removing a directory another run is still reading."""
    path = os.path.join(
        tempfile.gettempdir(), "kmr_scratch", f"pid{os.getpid()}", name,
        os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(path, ignore_errors=True)
    return path


# fan_out_scan's engagement floor: below this many input bytes the
# repartition exchange costs more than the parallelism buys (measured at
# the 500-doc/0.1 MB documents table: 1.00 s -> 1.11 s, a ~10%
# REGRESSION; at the 5k-doc/0.6 MB bench documents table: 2.1x FASTER).
# The floor keeps the tiny text/embedding tables untouched at both
# driver scales; sf0.01 lineitem (1.0 MB) is ABOVE it, so q_agg_group's
# driver-scale plan does carry the fan-out exchange — hash-verified
# identical there (decimal aggregation is exact, order-free), which is
# the invariant that matters; plan shape at a given SF is not pinned.
FAN_OUT_MIN_BYTES = 262_144


def fan_out_scan(df: DataFrame, key: tuple[str, ...]) -> DataFrame:
    """Repartition a SMALL scan to the session's task slots so a
    CPU-heavy narrow pipeline above it (shingle explode + 64 xxhash64
    min-aggregates, regex batteries, decimal partial aggregates) can
    use the whole machine instead of the scan's split count.

    Why this exists: Spark parallelizes a parquet scan by file splits,
    and a file is splittable only at row-group boundaries — a single
    small row group yields ONE task no matter how many cores the
    session has, and every Catalyst branch that re-reads the subtree
    re-pays the single-threaded pass (measured on the 5k-doc bench
    table, one 0.6 MB row group on local[32]: the MinHash query runs
    2.977 s -> 1.433 s, 2.1x, with bit-identical output — signatures
    are per-row deterministic xxhash64, so the result is provably
    partition-invariant).

    100 TB framing: the gate makes this a no-op exactly where a blanket
    ``repartition`` would be catastrophic. At corpus scale the scan has
    orders of magnitude more splits than the cluster has slots
    (``n_parts >= defaultParallelism`` — gate false, zero added
    exchange, the plan is byte-identical to not calling this; witnessed
    on a 64-file replica in SCALE_SPOT_r11.json fanout_r11). It engages
    only in the coarse-scan/idle-cores regime, where the exchange it
    adds moves less data than one task's input at corpus scale.
    Non-file sources (no ``inputFiles``) and sub-floor inputs pass
    through untouched. Adoption is per-query and measured — queries
    that shuffle or sample early LOSE from it (SimHash: 1.674 s ->
    1.875 s; one hash per token is too cheap to amortize the exchange);
    see the A/B table in SCALE_SPOT_r11.json.

    ``key`` (r17, optimization guide §2.5): column names of a
    row-unique (or near-unique) key; the fan-out repartitions by
    ``xxhash64('fan-out', *key)``, not round-robin. Round-robin
    repartition MUST locally sort its input first so retried tasks
    reproduce the same row-to-partition assignment (SPARK-23207,
    ``spark.sql.execution.sortBeforeRepartition``) — on the
    one-row-group bench scan that sort runs on the single scan task,
    serial. A deterministic hash key needs no such sort (the
    assignment is a pure row function) and is also the guide's
    preferred form under retries. Measured on the q_agg_group shape
    (sf0.1, interleaved min-of-5): round-robin 1.195 s, hash on
    (l_orderkey, l_linenumber) 0.924 s. The 'fan-out' literal seed
    makes the exchange signature self-identifying so
    tools/plancheck.py can exempt exactly this exchange from the keyed
    shuffle budgets. Key cardinality must dwarf the slot count (the
    registered adopters pass table primary keys: 600k/5k/2k distinct
    over <= 32 slots), per the guide's synthetic-partitioning-key rule.
    Result invariance: adopters must be partition-layout-invariant
    (exact decimal aggregates, per-row hashes, two-stage ranks) —
    re-verified by oracle parity on every adopter after the r17
    switch."""
    if df.isStreaming:
        return df  # streaming plans reject rdd/inputFiles introspection
    sc = df.sparkSession.sparkContext
    slots = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= slots:
        return df
    try:
        from urllib.parse import urlparse

        total = sum(
            os.path.getsize(urlparse(p).path) for p in (df.inputFiles() or [None])
        )
    except Exception:  # noqa: BLE001 — incl. Py4J errors (ADVICE r11):
        # a v2/exotic source may REJECT inputFiles() JVM-side rather
        # than return []; the contract is pass-through-untouched on any
        # source whose size cannot be established, never a query failure.
        return df
    if total < FAN_OUT_MIN_BYTES:
        return df
    return df.repartition(
        slots, F.xxhash64(F.lit("fan-out"), *[F.col(c) for c in key])
    )


# Per-process parquet schema memo (r17, guide §1.2 fixed driver costs):
# schema INFERENCE reads parquet footers on every spark.read.parquet —
# measured 0.12-0.16 s per call vs 0.02-0.06 s with an explicit schema,
# and every query pays it once per table it touches (q_join_multiway:
# five tables, ~0.4 s/rep). The memo holds METADATA only (StructType by
# resolved path) — every run still scans the parquet data; nothing
# result-shaped is cached. Keyed by resolved path, storing (mtime,
# schema): one stat per read (~µs) compares the table's mtime, and a
# changed mtime REPLACES the path's entry, so the memo holds at most one
# schema per table. The mtime catches file add, remove and overwrite
# (Spark's overwrite recreates the files, bumping the directory); it
# does NOT catch an in-place rewrite of a data file that leaves the
# directory mtime unchanged. The testdata tables are read-only and
# the bench's sf1 replicas are built before any read, so within the
# bench the entry never churns.
_SCHEMA_MEMO: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS); Spark's reader
    rejects that type, so it is read as raw nanos (legacy nanosAsLong conf)
    and converted to a microsecond TIMESTAMP_NTZ — the same value DuckDB
    sees after CAST(ts AS TIMESTAMP). Oracle SQL casts accordingly.
    """
    configure(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = None  # let spark.read raise its own error
    memo = _SCHEMA_MEMO.get(path)
    if memo is None or memo[0] != mtime:
        df = spark.read.parquet(path)
        _SCHEMA_MEMO[path] = (mtime, df.schema)
    else:
        df = spark.read.schema(memo[1]).parquet(path)
    return events_ts(df) if name == "events" else df


def events_ts(df: DataFrame) -> DataFrame:
    """``events.ts`` read as raw parquet nanos (bigint) becomes a
    microsecond TIMESTAMP_NTZ; a frame whose ``ts`` is not bigint passes
    through unchanged. The batch and file-stream readers share it."""
    if dict(df.dtypes).get("ts") != "bigint":
        return df
    return df.withColumn(
        "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)")
    )


class Tables:
    """Lazy per-table accessor: ``Tables(spark, sf_dir).lineitem`` etc."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in TABLE_NAMES:
            raise AttributeError(f"unknown table {name!r}")
        if name not in self._cache:
            self._cache[name] = load_table(self._spark, self._sf_dir, name)
        return self._cache[name]
