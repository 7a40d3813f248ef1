"""``session.scoped_conf``: the one way code changes session SQL conf
on a run's behalf, and the guarantee that it leaves none behind."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from enriched_crime_incident_data_pipeline_spark.session import scoped_conf

PKG = Path(__file__).resolve().parents[1] / "enriched_crime_incident_data_pipeline_spark"
SET_KEY = "spark.sql.shuffle.partitions"
UNSET_KEY = "spark.sparkgraft.test.scoped"


def test_scoped_conf_restores_set_and_unset_keys(spark):
    before = spark.conf.get(SET_KEY)
    assert spark.conf.get(UNSET_KEY, None) is None
    with scoped_conf(spark, {SET_KEY: "3", UNSET_KEY: "on"}):
        assert spark.conf.get(SET_KEY) == "3"
        assert spark.conf.get(UNSET_KEY) == "on"
    assert spark.conf.get(SET_KEY) == before
    assert spark.conf.get(UNSET_KEY, None) is None


def test_scoped_conf_restores_on_exception(spark):
    before = spark.conf.get(SET_KEY)
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, {SET_KEY: "3", UNSET_KEY: "on"}):
            raise RuntimeError("boom")
    assert spark.conf.get(SET_KEY) == before
    assert spark.conf.get(UNSET_KEY, None) is None


def test_scoped_conf_restores_when_a_set_fails(spark):
    """A bad value fails at the ``with`` line, and the keys set before
    it are put back."""
    before = spark.conf.get(SET_KEY)
    with pytest.raises(Exception):
        with scoped_conf(
            spark, {UNSET_KEY: "on", "spark.sql.adaptive.enabled": "maybe"}
        ):
            pass
    assert spark.conf.get(SET_KEY) == before
    assert spark.conf.get(UNSET_KEY, None) is None
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_shuffle_and_aqe_conf_set_only_through_scoped_conf():
    """No package module outside ``session.py`` calls ``conf.set`` on
    the shuffle-partition or AQE switch; runs scope them with
    :func:`scoped_conf` instead."""
    pat = re.compile(
        r"conf\.set\(\s*[\"'](spark\.sql\.shuffle\.partitions"
        r"|spark\.sql\.adaptive\.enabled)[\"']"
    )
    offenders = [
        str(p.relative_to(PKG))
        for p in sorted(PKG.rglob("*.py"))
        if p.name != "session.py" and pat.search(p.read_text())
    ]
    assert not offenders, offenders
