"""Session configuration: a conf Spark rejects must surface."""

from __future__ import annotations

import pytest

from data_engineer_project_weather_analytics_spark import session


def test_configure_warns_on_rejected_conf_and_applies_the_rest(spark, monkeypatch):
    """A conf Spark rejects (here a static key, which a live session
    refuses) must raise a ``RuntimeWarning`` naming the key, and the
    remaining confs must still be applied — a silently dropped
    nanosAsLong or UTC timezone would change every timestamp result."""
    monkeypatch.setattr(
        session,
        "_RUNTIME_CONFS",
        {"spark.sql.warehouse.dir": "/nonexistent", **session._RUNTIME_CONFS},
    )
    monkeypatch.setattr(
        spark, "_data_engineer_project_weather_analytics_spark_configured", False
    )
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.warns(RuntimeWarning, match="spark.sql.warehouse.dir"):
            session.configure(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_ship_package_failure_warns_and_leaves_session_unshipped(spark, monkeypatch):
    """A failed package zip must raise a ``RuntimeWarning`` and leave the
    shipped flag unset, so a later configure retries instead of
    silently running workers without the package."""
    import zipfile

    sc = spark.sparkContext
    monkeypatch.setattr(
        sc, "_data_engineer_project_weather_analytics_spark_shipped", False,
        raising=False,
    )

    def _fail(*_a, **_kw):
        raise OSError("no space left on device")

    monkeypatch.setattr(zipfile, "ZipFile", _fail)
    with pytest.warns(RuntimeWarning, match="could not ship the package"):
        session._ship_package(spark)
    assert not sc._data_engineer_project_weather_analytics_spark_shipped
