"""Per-stage profile of a registered query (optimization inner loop).

Usage: python tools/profile_stages.py <query> [query ...]

For each query: one warm-up materialization, then a profiled run. Both
report plan-build wall, total wall, and the Janino compiles and compile
time they caused (whole-stage codegen classes not found in Spark's
codegen cache), which tells code generation apart from execution. The
profiled run also lists each completed stage's executorRunTime / input /
shuffle read+write bytes (from the AppStatusStore, read by
bench.stage_list), named by the plan operators it ran (stage_label).
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def stage_label(store, stage) -> str:
    """A stage's plan operators in execution order, e.g. ``AQEShuffleRead
    > WholeStageCodegen (2) > Exchange``: the top-level clusters of the
    AppStatusStore's operation graph for the stage, whose ``(n)`` ids are
    the ``*(n)`` codegen ids of ``explain``. StageData's own name is the
    call site that submitted the stage, and under adaptive execution
    every stage is submitted from the same callback
    (``$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java``);
    that name is the fallback when the graph is no longer retained."""
    from py4j.protocol import Py4JError

    try:
        it = (
            store.operationGraphForStage(stage.stageId())
            .rootCluster()
            .childClusters()
            .iterator()
        )
    except Py4JError:
        return str(stage.name())
    names = []
    while it.hasNext():
        names.append(str(it.next().name()).strip())
    return " > ".join(names) or str(stage.name())


def stage_rows(spark):
    from bench import stage_list

    store = spark._jsc.sc().statusStore()
    return [
        {
            "id": s.stageId(),
            "name": stage_label(store, s)[:100],
            "run_ms": s.executorRunTime(),
            "cpu_ms": s.executorCpuTime() // 1_000_000,
            "in_mb": round(s.inputBytes() / 1e6, 1),
            "sh_r_mb": round(s.shuffleReadBytes() / 1e6, 1),
            "sh_w_mb": round(s.shuffleWriteBytes() / 1e6, 1),
            "tasks": s.numCompleteTasks(),
        }
        for s in stage_list(spark)
    ]


def compiles(spark) -> tuple[int, float]:
    """Janino compiles so far in the driver JVM, and their total seconds."""
    jvm = spark._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return count.getCount(), nanos / 1e9


def run(spark, spec, sf_dir: str) -> str:
    """Build and materialise one query; describe its build and total
    wall and the compiles the run caused."""
    n0, s0 = compiles(spark)
    t0 = time.time()
    df = spec.fn(spark, sf_dir)
    t_build = time.time() - t0
    df.write.mode("overwrite").format("noop").save()
    t_total = time.time() - t0
    n1, s1 = compiles(spark)
    return (
        f"build {t_build:.3f}s total {t_total:.3f}s "
        f"compiles {n1 - n0} ({s1 - s0:.3f}s)"
    )


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from kafka_map_reduce_spark import get_session
    from kafka_map_reduce_spark.registry import all_queries

    spark = get_session(
        "kmr-prof", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    specs = all_queries()

    def materialize(df):
        df.write.mode("overwrite").format("noop").save()

    materialize(specs["q_agg_group"].fn(spark, sf_dir).limit(1))
    materialize(specs["q_udf_scalar"].fn(spark, sf_dir).limit(256))

    for name in names:
        print(f"-- {name} warm-up: {run(spark, specs[name], sf_dir)}")
        before_ids = {r["id"] for r in stage_rows(spark)}
        prof = run(spark, specs[name], sf_dir)
        rows = [r for r in stage_rows(spark) if r["id"] not in before_ids]
        rows.sort(key=lambda r: -r["run_ms"])
        print(
            f"== {name}: {prof} "
            f"stages {len(rows)} task-sec {sum(r['run_ms'] for r in rows)/1000:.2f}"
        )
        for r in rows[:14]:
            print(
                f"  run {r['run_ms']/1000:6.2f}s cpu {r['cpu_ms']/1000:6.2f}s "
                f"tasks {r['tasks']:3d} in {r['in_mb']:7.1f}MB "
                f"shR {r['sh_r_mb']:6.1f} shW {r['sh_w_mb']:6.1f}  {r['name']}"
            )
        sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
