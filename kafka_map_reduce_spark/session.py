"""SparkSession factory and runtime configuration.

The engine is designed for a multi-executor cluster at ~100 TB scale; these
configs encode the scale-sensitive defaults (AQE on, skew-join handling,
Arrow for the few Python-side operators). Tests run on local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that are safe (and necessary) to set on an existing session at
# runtime. The driver harness owns its own SparkSession, so everything the
# engine depends on must be runtime-settable.
RUNTIME_CONFS: dict[str, str] = {
    # testdata events.parquet stores TIMESTAMP(NANOS) which the vectorized
    # parquet reader rejects; read as long and convert (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics for TIMESTAMP <-> NTZ conversions.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-planning (coalesce post-shuffle partitions, skew join
    # splitting, dynamic broadcast) — essential at 100 TB where static
    # estimates are wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE coalescing is parallelism-first, so its floor is
    # minPartitionSize (default 1 MB), not the advisory size. The dedup
    # families' candidate/verify stages are compute-dense per shuffled
    # byte (a ~2 MB pair shuffle fans out to c^2 BLAS work), and the
    # 1 MB floor was measured collapsing them to 1-2 serial tasks at
    # bench scale (q_dedup_embedding_lsh: two 1-task ~1 s stages, r17
    # profile). 64 KB keeps small compute-dense shuffles parallel; at
    # production scale every partition clears either floor, so this
    # only governs the small-shuffle regime. Env-overridable like the
    # partition count above.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": os.environ.get(
        "SPARK_GRAFT_MIN_PARTITION", "64k"
    ),
    # Arrow transfer for pandas UDFs / applyInPandas (Tier C operators).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Shuffle parallelism is runtime-settable and MUST be: an external
    # harness session defaults to 200, which at small SF means up to 200
    # near-empty post-shuffle partitions — and 200 concurrent parquet
    # writers inside foreachBatch sinks, enough to exhaust a default-1g
    # driver heap (each open writer buffers a row group). On a real
    # cluster this is sized to data volume; AQE coalesces the excess.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
}

# Session-creation-time configs (only applied when *we* build the session).
BUILD_CONFS: dict[str, str] = {
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # Whole-stage codegen keeps compiled classes in an LRU cache keyed by
    # generated source; Spark's default holds 100. One pass over the 18
    # headline queries generates 302 classes and one pass over all 159
    # registrations at sf0.001 ~1,800, so at 100 every class is evicted
    # before the same query shape comes back: each warm pass re-ran
    # Janino on all of them and restarted them in the bytecode
    # interpreter. At 2,048 a second headline pass compiles 0 classes
    # and a second registry pass 57 (2,484 at 100). This caches code,
    # not results: every query still scans and computes everything. The
    # cost is the classes' metaspace and code cache: after a registry
    # pass and GC the JVM's non-heap in use read 394 MB against 366 MB.
    # The conf is static, so configure() cannot set it: a session a
    # harness builds keeps Spark's 100 entries.
    "spark.sql.codegen.cache.maxEntries": "2048",
}


def _package_zip() -> str:
    """Zip this package so executors can import it (the local analogue of
    shipping the egg to a cluster via --py-files)."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), "kafka_map_reduce_spark_pyfiles.zip"
    )
    with zipfile.ZipFile(out, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "kafka_map_reduce_spark", os.path.relpath(full, pkg_dir)
                    )
                    z.write(full, rel)
    return out


def _not_modifiable(e: Exception) -> bool:
    """True when Spark refuses to change a static or core conf at runtime."""
    getter = getattr(e, "getCondition", None)
    return getter is not None and getter() in (
        "CANNOT_MODIFY_CONFIG",
        "CANNOT_MODIFY_STATIC_CONFIG",
    )


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session (idempotent).

    Also ships the package source to executor Python workers: pandas-UDF
    closures reference this module, and the driver's sys.path does not
    propagate to workers. A conf the session refuses as not modifiable at
    runtime is skipped; any other failure raises and names the conf or
    the zip, rather than surfacing later as a wrong read or an executor
    ImportError.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            if not _not_modifiable(e):
                raise RuntimeError(f"configure: cannot set {k}={v!r}: {e}") from e
    # A Spark Connect session has no SparkContext to ship files with.
    sc = getattr(spark, "sparkContext", None)
    if sc is not None and not getattr(sc, "_kmr_pyfiles_added", False):
        path = _package_zip()
        try:
            sc.addPyFile(path)
        except Exception as e:
            raise RuntimeError(f"configure: cannot ship {path} to workers: {e}") from e
        sc._kmr_pyfiles_added = True
    return spark


def get_session(
    app_name: str = "kafka-map-reduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = os.environ.get(
            "SPARK_GRAFT_MASTER",
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]",
        )
    builder = builder.master(master)
    confs = dict(BUILD_CONFS)
    confs.update(RUNTIME_CONFS)
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
