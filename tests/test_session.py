"""configure_session: every engine conf is applied, and one that cannot
be set is reported instead of skipped silently."""

from __future__ import annotations

import logging

from clickhouse_modules_spark.session import RUNTIME_CONFS, configure_session

LOGGER = "clickhouse_modules_spark.session"


def test_configure_session_sets_every_conf_quietly(spark, caplog):
    with caplog.at_level(logging.WARNING, logger=LOGGER):
        configure_session(spark)
    assert caplog.records == []
    for key, value in RUNTIME_CONFS.items():
        assert spark.conf.get(key) == value


def test_configure_session_warns_on_unsettable_conf(spark, monkeypatch, caplog):
    def refuse(key, value):
        raise RuntimeError(f"CANNOT_MODIFY_CONFIG {key}")

    monkeypatch.setattr(spark.conf, "set", refuse)
    with caplog.at_level(logging.WARNING, logger=LOGGER):
        configure_session(spark)
    warned = [r.getMessage() for r in caplog.records]
    assert len(warned) == len(RUNTIME_CONFS)
    for key in RUNTIME_CONFS:
        assert any(f"cannot set {key}=" in m and "CANNOT_MODIFY_CONFIG" in m
                   for m in warned), key
