"""Config layering (defaults < file < env < CLI) and structured logging."""

from __future__ import annotations

import json

import pytest

from wage_etl_spark.config import EngineConfig, load_config


def test_defaults():
    cfg = load_config(env={})
    assert cfg == EngineConfig()


def test_file_then_env_then_cli(tmp_path):
    f = tmp_path / "cfg.yaml"
    f.write_text("num_buckets: 64\nmax_epochs: 4\ndedup_strategy: fused\n")
    env = {"WAGE_ETL_MAX_EPOCHS": "8", "WAGE_ETL_KEEP_TOMBSTONES": "true"}
    cfg = load_config(
        cli_overrides={"max_epochs": None, "dedup_strategy": "auto"},
        config_file=str(f),
        env=env,
    )
    assert cfg.num_buckets == 64           # file layer
    assert cfg.max_epochs == 8             # env overrides file; None CLI ignored
    assert cfg.dedup_strategy == "auto"  # CLI overrides env/file
    assert cfg.keep_tombstones is True     # env bool coercion


def test_json_file_and_env_pointer(tmp_path):
    f = tmp_path / "cfg.json"
    f.write_text(json.dumps({"warehouse": "/lake/wh", "max_epochs": 3}))
    cfg = load_config(env={"WAGE_ETL_CONFIG": str(f)})
    assert cfg.warehouse == "/lake/wh" and cfg.max_epochs == 3
    rc = cfg.replay_config()
    assert rc.warehouse == "/lake/wh" and rc.max_epochs == 3


def test_unknown_dedup_strategy_rejected():
    """Strategies removed from the engine (e.g. broadcast, defer) fail
    loudly instead of silently running another one."""
    cfg = load_config(cli_overrides={"warehouse": "/lake/wh", "dedup_strategy": "defer"}, env={})
    with pytest.raises(ValueError, match="unknown dedup_strategy 'defer'"):
        cfg.replay_config()


@pytest.mark.parametrize("n", [0, -1])
def test_catch_up_epochs_below_one_rejected(n):
    """A non-positive chunk size fails loudly instead of running as 1."""
    from wage_etl_spark.streaming.replay import ReplayConfig

    with pytest.raises(ValueError, match="catch_up_epochs must be >= 1"):
        ReplayConfig(warehouse="/lake/wh", catch_up_epochs=n)


def test_unknown_key_rejected(tmp_path):
    f = tmp_path / "cfg.yaml"
    f.write_text("not_a_key: 1\n")
    with pytest.raises(ValueError, match="unknown config key"):
        load_config(config_file=str(f))


def test_logging_setup_idempotent(tmp_path):
    from wage_etl_spark.logging_setup import setup_logging

    log1 = setup_logging("DEBUG")
    n = len(log1.handlers)
    log2 = setup_logging("INFO", log_file=str(tmp_path / "etl.log"))
    assert log2 is log1
    assert len(log2.handlers) == n + 1  # file handler added once
    log3 = setup_logging("INFO", log_file=str(tmp_path / "etl.log"))
    assert len(log3.handlers) == n + 1  # not duplicated
    log3.info("hello structured world")
    assert "hello structured world" in (tmp_path / "etl.log").read_text()


def test_logging_setup_relative_path_not_duplicated(tmp_path, monkeypatch):
    """ADVICE r2: baseFilename is absolute, so a RELATIVE log_file must still
    dedupe against an existing handler (compare via abspath)."""
    from wage_etl_spark.logging_setup import setup_logging

    monkeypatch.chdir(tmp_path)
    log1 = setup_logging("INFO", log_file="rel.log")
    n = len(log1.handlers)
    log2 = setup_logging("INFO", log_file="rel.log")
    assert len(log2.handlers) == n
