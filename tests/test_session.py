"""Session tuning and the conf-pin helper: ``tune()`` skips only the
confs a session refuses as non-modifiable, and ``pinned_confs``
restores every key it pinned, also when its block raises."""

from __future__ import annotations

import pytest
from pyspark.errors import IllegalArgumentException

from ema_bigdata_spark import session
from ema_bigdata_spark.streaming.stream_queries import _state_partitions

_SHJ = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"


def test_tune_rejects_malformed_shj_threshold(spark, monkeypatch):
    before = spark.conf.get(_SHJ)
    monkeypatch.setenv("SPARK_GRAFT_SHJ_THRESHOLD", "12 parsecs")
    with pytest.raises(ValueError, match="SPARK_GRAFT_SHJ_THRESHOLD"):
        session.tune(spark)
    assert spark.conf.get(_SHJ) == before


def test_tune_skips_only_non_modifiable_confs(spark, monkeypatch):
    # a static SQL conf and a core conf are refused by the session and
    # skipped; the runtime conf after them is still applied
    monkeypatch.setattr(session, "RUNTIME_CONFS", {
        "spark.sql.warehouse.dir": "/nonexistent",
        "spark.driver.memory": "1g",
        "spark.sql.adaptive.enabled": "true",
    })
    session.tune(spark)
    # a malformed value for a runtime conf is not swallowed
    monkeypatch.setattr(session, "RUNTIME_CONFS", {
        "spark.sql.shuffle.partitions": "many",
    })
    with pytest.raises(IllegalArgumentException):
        session.tune(spark)


def test_pinned_confs_restores_set_and_unset_keys(spark):
    set_key, unset_key = "spark.sql.shuffle.partitions", "spark.test.pin"
    prev = spark.conf.get(set_key)
    assert spark.conf.get(unset_key, None) is None
    with pytest.raises(RuntimeError, match="inside"):
        with session.pinned_confs(spark, {set_key: "3", unset_key: "x"}):
            assert spark.conf.get(set_key) == "3"
            assert spark.conf.get(unset_key) == "x"
            raise RuntimeError("inside")
    assert spark.conf.get(set_key) == prev
    assert spark.conf.get(unset_key, None) is None


def test_state_partitions_pins_through_shared_helper(spark):
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.streaming.noDataMicroBatches.enabled")
    prev = [spark.conf.get(k, None) for k in keys]
    with _state_partitions(spark, 3):
        assert [spark.conf.get(k) for k in keys] == ["3", "false"]
    assert [spark.conf.get(k, None) for k in keys] == prev
