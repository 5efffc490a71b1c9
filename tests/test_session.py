"""Session conf helpers (no Spark session needed) and the worker-pool
warm-up's failure path."""

import pytest

from wcm_spark.session import parse_conf_extra, recommended_sql_confs


def test_conf_extra_strips_and_skips_empty_segments():
    raw = " spark.sql.shuffle.partitions = 8 ;; spark.a.b=x=y ; "
    assert parse_conf_extra(raw) == {
        "spark.sql.shuffle.partitions": "8",
        "spark.a.b": "x=y",
    }
    assert parse_conf_extra("") == {}


@pytest.mark.parametrize("bad", ["spark.a.b", " =1"])
def test_conf_extra_rejects_malformed_segment(bad):
    # the error names the offending segment
    with pytest.raises(ValueError, match=repr(bad.strip())):
        parse_conf_extra(f"spark.ok=1;{bad}")


def test_conf_extra_is_applied_last(monkeypatch):
    monkeypatch.setenv("WCM_SQL_CONF_EXTRA", "spark.sql.adaptive.enabled = true")
    assert recommended_sql_confs()["spark.sql.adaptive.enabled"] == "true"


def test_warm_up_failure_is_logged_and_session_builds(spark, monkeypatch, caplog):
    """A failed pool warm-up logs a warning carrying the exception and
    leaves ``wcm.workers.warmed`` unset; the session still builds."""
    import logging

    from wcm_spark.session import get_spark

    def boom(self, *a, **kw):
        raise RuntimeError("warm-up boom")

    # the session's concrete DataFrame class: pyspark.sql.DataFrame is an
    # abstract base the classic implementation overrides
    monkeypatch.setattr(type(spark.range(0)), "mapInArrow", boom)
    prior = spark.conf.get("wcm.workers.warmed", None)
    spark.conf.unset("wcm.workers.warmed")
    try:
        with caplog.at_level(logging.WARNING, logger="wcm_spark.session"):
            s = get_spark("wcm-tests", cpus=4, shuffle_partitions=4)
        assert s is spark
        assert spark.conf.get("wcm.workers.warmed", None) is None
        assert spark.range(3).count() == 3
        warned = [r for r in caplog.records if r.name == "wcm_spark.session"]
        assert len(warned) == 1 and warned[0].levelno == logging.WARNING
        assert "warm-up boom" in warned[0].getMessage()
    finally:
        if prior is not None:
            spark.conf.set("wcm.workers.warmed", prior)
