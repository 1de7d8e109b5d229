"""Config resolution with reference parity (config.go:14-29, 92-166):
defaults < ``.env`` file < EXECUTESYNC_* env < CLI flags. Field set mirrors
the reference; DATABASE_TYPE gains spark-native values (parquet, jdbc) and
EXECUTE_URL may be a ``file://`` feed directory (the file-based source).

The ``.env`` file (or fallback ``config.env``) is read from the working
directory like the reference (config.go:99-108, godotenv). godotenv.Load
never overrides variables already present in the process environment, so the
file sits BELOW process env in precedence — mirrored here."""

from __future__ import annotations

import os
from dataclasses import dataclass, fields
from typing import Optional

_ENV_PREFIX = "EXECUTESYNC_"

_FIELD_ENV = {
    "execute_url": "EXECUTE_URL",
    "execute_key_id": "EXECUTE_APIKEY_ID",
    "execute_key_secret": "EXECUTE_APIKEY_SECRET",
    "max_documents": "MAX_DOCUMENTS",
    "database_type": "DATABASE_TYPE",
    "database_dsn": "DATABASE_DSN",
    "state_dir": "STATE_DIR",
    "wait": "WAIT",
    "chunk_size": "CHUNK_SIZE",
    "include_calcs": "INCLUDE_CALCS",
    "hide_inactive_fields": "HIDE_INACTIVE_FIELDS",
    "log_level": "LOG_LEVEL",
    "force": "FORCE",
}

_SECRET_FIELDS = {"execute_key_secret", "database_dsn"}


@dataclass
class Config:
    execute_url: str = ""
    execute_key_id: str = ""
    execute_key_secret: str = ""
    max_documents: int = 10000
    database_type: str = "parquet"
    database_dsn: str = ""
    state_dir: str = "."
    wait: int = 600
    chunk_size: int = 10000
    include_calcs: bool = False
    hide_inactive_fields: bool = False
    log_level: str = "info"
    force: bool = False
    # spark extras (not in the reference)
    compat_chunking: bool = False  # chunk-split is off by default in Spark

    def redacted(self) -> dict:
        out = {}
        for f in fields(self):
            v = getattr(self, f.name)
            out[f.name] = "********" if f.name in _SECRET_FIELDS and v else v
        return out


_TRUE = ("1", "true", "yes", "on")
_FALSE = ("", "0", "false", "no", "off")
_LOG_LEVELS = ("debug", "info", "warn", "warning", "error", "critical")


def _coerce(name: str, value: str, target_type: type):
    if target_type is bool:
        word = value.strip().lower()
        if word not in _TRUE + _FALSE:
            raise ValueError(f"{name} must be empty or one of {'/'.join(_TRUE + _FALSE[1:])}, got {value!r}")
        return word in _TRUE
    if target_type is int:
        try:
            return int(value)
        except ValueError:
            raise ValueError(f"{name} must be an integer, got {value!r}") from None
    return value


def _load_env_file(path: str) -> dict[str, str]:
    """Minimal dotenv parser: KEY=VALUE lines, ``#`` comments, optional
    ``export `` prefix, optional single/double quotes around the value."""
    out: dict[str, str] = {}
    try:
        with open(path) as f:
            lines = f.readlines()
    except OSError:
        return out
    for line in lines:
        line = line.strip()
        if not line or line.startswith("#") or "=" not in line:
            continue
        if line.startswith("export "):
            line = line[len("export "):]
        key, _, value = line.partition("=")
        key, value = key.strip(), value.strip()
        if len(value) >= 2 and value[0] == value[-1] and value[0] in "'\"":
            value = value[1:-1]
        elif " #" in value:
            # unquoted values end at an inline comment (godotenv behavior:
            # 'KEY=val # comment' yields 'val'); quoted values keep '#'
            value = value.split(" #", 1)[0].rstrip()
        if key:
            out[key] = value
    return out


def resolve_config(cli_overrides: Optional[dict] = None,
                   env_file: Optional[str] = None) -> Config:
    """defaults < .env file < env < CLI flags (None CLI values ignored)."""
    if env_file is None:
        # reference order: .env, else config.env, from CWD (config.go:99-108)
        env_file = ".env" if os.path.isfile(".env") else "config.env"
    file_env = _load_env_file(env_file)
    cfg = Config()
    for f in fields(Config):
        env_name = _FIELD_ENV.get(f.name)
        if env_name:
            raw = os.environ.get(_ENV_PREFIX + env_name)
            if raw is None:
                raw = file_env.get(_ENV_PREFIX + env_name)
            if raw is not None:
                setattr(cfg, f.name, _coerce(_ENV_PREFIX + env_name, raw, type(getattr(cfg, f.name))))
    for key, value in (cli_overrides or {}).items():
        if value is not None and hasattr(cfg, key):
            setattr(cfg, key, value)
    if cfg.log_level.lower() not in _LOG_LEVELS:
        raise ValueError(f"{_ENV_PREFIX}LOG_LEVEL must be one of {'/'.join(_LOG_LEVELS)}, got {cfg.log_level!r}")
    if cfg.compat_chunking and cfg.chunk_size < 1:
        raise ValueError(f"{_ENV_PREFIX}CHUNK_SIZE must be at least 1 with compat chunking, got {cfg.chunk_size}")
    # SQLite-style default DSN under state dir (config.go:132-136 analog)
    if not cfg.database_dsn and cfg.database_type == "parquet":
        cfg.database_dsn = os.path.join(cfg.state_dir, "execute_documents")
    return cfg
