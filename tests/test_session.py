"""``session.configure`` on an existing session: a conf the session
refuses as fixed at start-up is skipped, and every other failure raises
and names what failed — a bad conf value, or a package zip that cannot
reach the Python workers (which would otherwise surface later as an
executor ImportError). The session the engine builds also keeps the
classes that whole-stage codegen compiled for the query shapes it has
run."""

from __future__ import annotations

import functools

import pytest
from pyspark.sql import DataFrame

from kafka_map_reduce_spark import session
from tools.profile_stages import compiles


def test_configure_names_a_conf_it_cannot_set(spark, monkeypatch):
    monkeypatch.setitem(session.RUNTIME_CONFS, "spark.sql.shuffle.partitions", "eight")
    with pytest.raises(RuntimeError, match="spark.sql.shuffle.partitions"):
        session.configure(spark)


def test_configure_skips_confs_fixed_at_startup(spark, monkeypatch):
    monkeypatch.setitem(session.RUNTIME_CONFS, "spark.sql.warehouse.dir", "/elsewhere")
    monkeypatch.setitem(session.RUNTIME_CONFS, "spark.driver.memory", "1g")
    assert session.configure(spark) is spark
    assert spark.conf.get("spark.sql.warehouse.dir") != "/elsewhere"


def test_configure_names_a_zip_it_cannot_ship(spark, monkeypatch, tmp_path):
    missing = str(tmp_path / "missing_pyfiles.zip")
    monkeypatch.setattr(session, "_package_zip", lambda: missing)
    monkeypatch.setattr(spark.sparkContext, "_kmr_pyfiles_added", False)
    with pytest.raises(RuntimeError, match="missing_pyfiles.zip"):
        session.configure(spark)


def test_warm_rerun_compiles_no_new_classes(spark):
    """A session that re-issues the same query shapes reuses their
    generated classes. The cycle below compiles more classes than
    Spark's default 100-entry codegen cache holds, so under that default
    every class is evicted before the second cycle needs it again."""

    def plan(i):
        df = spark.range(100, numPartitions=1).selectExpr(f"id * {i + 7} AS x")
        return df.filter(f"x % {i + 3} = 0")

    def cycle():
        # a union runs its children as separate codegen stages in one job
        for j in range(0, 60, 20):
            df = functools.reduce(DataFrame.union, [plan(i) for i in range(j, j + 20)])
            df.write.mode("overwrite").format("noop").save()

    start, _ = compiles(spark)
    cycle()
    warm, _ = compiles(spark)
    assert warm - start > 100
    cycle()
    assert compiles(spark)[0] == warm
