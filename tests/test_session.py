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
