"""Session conf helpers (no Spark session needed)."""

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
