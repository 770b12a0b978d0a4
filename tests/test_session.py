"""session.configure(): refused confs are reported, never swallowed."""

from __future__ import annotations

import warnings

import pytest

from seamless_sharepoint_etl_spark import session


def test_configure_warns_naming_each_refused_conf(spark, monkeypatch):
    # static confs: a running session refuses to set either, so both are
    # harmless to inject (each keeps the value the session started with)
    static = {
        "spark.sql.warehouse.dir": spark.conf.get("spark.sql.warehouse.dir"),
        "spark.sql.extensions": "",
    }
    for k, v in static.items():
        monkeypatch.setitem(session.DYNAMIC_CONF, k, v)
    with pytest.warns(RuntimeWarning, match="confs not applied") as caught:
        session.configure(spark)
    assert len(caught) == 1
    msg = str(caught[0].message)
    for k in static:
        assert k in msg
    # the dynamic confs still applied, and are not named
    assert "spark.sql.adaptive.enabled" not in msg
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_configure_is_silent_when_every_conf_applies(spark):
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        session.configure(spark)
