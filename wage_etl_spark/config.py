"""Layered runtime configuration: defaults < config file < env < CLI.

The reference layers pydantic-settings over YAML + env + defaults
(/root/reference/config/settings.py:14-83, config/config.yaml:1-28); this is
the same precedence without the pydantic dependency: a plain dataclass, a
YAML (or JSON) file via ``--config``/``WAGE_ETL_CONFIG``, ``WAGE_ETL_*``
environment variables, then explicit CLI flags — later layers win.

YAML is optional (gated import): a ``.json`` config file always works.
"""

from __future__ import annotations

import dataclasses
import json
import os
from dataclasses import dataclass, fields

ENV_PREFIX = "WAGE_ETL_"


@dataclass
class EngineConfig:
    """Everything the CLI / replay orchestration needs; field names are the
    config-file keys and (uppercased, prefixed) env-var names."""

    events: str | None = None
    warehouse: str | None = None
    num_buckets: int = 32
    max_epochs: int | None = None
    dedup_strategy: str = "auto"
    keep_tombstones: bool = False
    rebucket_above_rows: int | None = None
    master: str | None = None
    log_level: str = "INFO"
    log_file: str | None = None

    def replay_config(self):
        from wage_etl_spark.streaming.replay import ReplayConfig

        if not self.warehouse:
            raise ValueError("warehouse is required")
        return ReplayConfig(
            warehouse=self.warehouse,
            num_buckets=self.num_buckets,
            max_epochs=self.max_epochs,
            dedup_strategy=self.dedup_strategy,
            keep_tombstones=self.keep_tombstones,
            rebucket_above_rows=self.rebucket_above_rows,
        )


def _coerce(field: dataclasses.Field, raw):
    """Cast a string (env) or file value to the field's declared type."""
    if raw is None:
        return None
    t = field.type
    if t in ("int", "int | None"):
        return int(raw)
    if t == "bool":
        if isinstance(raw, bool):
            return raw
        return str(raw).strip().lower() in ("1", "true", "yes", "on")
    return raw


def load_file(path: str) -> dict:
    """Read a YAML or JSON config file into a flat dict. YAML needs pyyaml
    (import-gated); JSON always works."""
    with open(path) as f:
        text = f.read()
    if path.endswith(".json"):
        data = json.loads(text)
    else:
        try:
            import yaml
        except ImportError as e:  # pragma: no cover - yaml ships in this env
            raise RuntimeError(
                f"{path}: YAML config needs pyyaml (not installed); use .json"
            ) from e
        data = yaml.safe_load(text)
    if not isinstance(data, dict):
        raise ValueError(f"{path}: config file must be a mapping")
    return data


def load_config(
    cli_overrides: dict | None = None,
    config_file: str | None = None,
    env: dict | None = None,
) -> EngineConfig:
    """Resolve the layered config. ``cli_overrides`` holds ONLY the flags the
    user explicitly passed (None-valued entries are ignored)."""
    env = os.environ if env is None else env
    cfg = EngineConfig()
    known = {f.name: f for f in fields(EngineConfig)}

    config_file = config_file or env.get(f"{ENV_PREFIX}CONFIG")
    if config_file:
        for k, v in load_file(config_file).items():
            if k not in known:
                raise ValueError(f"{config_file}: unknown config key '{k}'")
            setattr(cfg, k, _coerce(known[k], v))

    for name, f in known.items():
        raw = env.get(f"{ENV_PREFIX}{name.upper()}")
        if raw is not None:
            setattr(cfg, name, _coerce(f, raw))

    for k, v in (cli_overrides or {}).items():
        if v is not None:
            setattr(cfg, k, v)
    return cfg
