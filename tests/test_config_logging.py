"""Config (O6) and stage logging (O7) units."""

from __future__ import annotations

import json
import logging

from data_engineering_for_e_commerce_logistics_spark.config import Config, get_config
from data_engineering_for_e_commerce_logistics_spark.logging_utils import StageLogger


def test_config_dot_path_and_default():
    cfg = Config({"api": {"fake_store": {"timeout": 30, "retries": 3}}})
    assert cfg.get("api.fake_store.timeout") == 30
    assert cfg.get("api.nope", "fallback") == "fallback"
    assert cfg.get("api.fake_store.nope") is None


def test_config_env_substitution(monkeypatch):
    monkeypatch.setenv("DB_HOST", "example.internal.invalid")
    cfg = Config(
        {
            "db": {
                "host": "${DB_HOST}",
                "port": "${DB_PORT:5432}",
                "url": "jdbc://${DB_HOST}/warehouse",
            }
        }
    )
    assert cfg.get("db.host") == "example.internal.invalid"
    assert cfg.get("db.port") == "5432"  # default used, var unset
    assert cfg.get("db.url") == "jdbc://example.internal.invalid/warehouse"


def test_config_yaml_and_singleton(tmp_path):
    p = tmp_path / "config.yaml"
    p.write_text("load:\n  batch_size: 1000\n")
    cfg = get_config(str(p))
    assert cfg.get("load.batch_size") == 1000
    assert get_config() is cfg  # singleton until a new path is passed


def test_config_apply_spark_conf(spark):
    cfg = Config({"spark.sql.shuffle.partitions": 8})
    cfg.apply_spark_conf(spark)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    spark.conf.set("spark.sql.shuffle.partitions", "8")


def test_stage_logger_emits_json(caplog):
    logger = logging.getLogger("engine.test-stage")
    logger.setLevel(logging.INFO)
    sl = StageLogger("extract", logger=logger)
    with caplog.at_level(logging.INFO, logger="engine.test-stage"):
        sl.rows("loaded", 42, table="orders")
    payload = json.loads(caplog.records[-1].getMessage())
    assert payload["stage"] == "extract"
    assert payload["event"] == "loaded"
    assert payload["rows"] == 42 and payload["table"] == "orders"
