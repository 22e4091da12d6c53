"""``session.configure`` on an existing session: a conf the session
refuses as fixed at start-up is skipped, and every other failure raises
and names what failed — a bad conf value, or a package zip that cannot
reach the Python workers (which would otherwise surface later as an
executor ImportError)."""

from __future__ import annotations

import pytest

from kafka_map_reduce_spark import session


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
