"""``session.scoped_conf``: a session conf set for one ``with`` block comes
back as it was, on exit and on exception, and a key that was unset before
is unset again."""

from __future__ import annotations

import pytest

from build_pipeline_with_apache_beam_spark.session import scoped_conf

SET_KEY = "spark.sql.shuffle.partitions"
UNSET_KEY = "spark.graft.test.scopedConfProbe"


def test_scoped_conf_restores_a_set_key(spark):
    old = spark.conf.get(SET_KEY)
    with scoped_conf(spark, SET_KEY, "3"):
        assert spark.conf.get(SET_KEY) == "3"
    assert spark.conf.get(SET_KEY) == old
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, SET_KEY, "5"):
            raise RuntimeError("body failed")
    assert spark.conf.get(SET_KEY) == old


def test_scoped_conf_unsets_a_key_that_was_unset(spark):
    assert spark.conf.get(UNSET_KEY, None) is None
    with scoped_conf(spark, UNSET_KEY, "on"):
        assert spark.conf.get(UNSET_KEY) == "on"
    assert spark.conf.get(UNSET_KEY, None) is None
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, UNSET_KEY, "on"):
            raise RuntimeError("body failed")
    assert spark.conf.get(UNSET_KEY, None) is None
