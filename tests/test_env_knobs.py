"""Environment knobs reject bad values loudly instead of doing nothing."""

import logging
import os

import pytest


def _mb(size: str) -> int:
    scale = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    return int(int(size[:-1]) * scale[size[-1].lower()])


def test_driver_memory_default_fits_the_host(monkeypatch):
    from execute_sync_spark.session import driver_memory

    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    assert 0 < _mb(driver_memory()) <= min(48 * 1024, phys_mb // 2)


@pytest.mark.parametrize("value", ["", "48", "3 gb", "3gb", "0g", "-1g", "lots"])
def test_driver_memory_rejects_malformed_override(monkeypatch, value):
    from execute_sync_spark.session import driver_memory

    monkeypatch.setenv("SPARK_DRIVER_MEMORY", value)
    with pytest.raises(ValueError, match="SPARK_DRIVER_MEMORY"):
        driver_memory()


def test_driver_memory_override(monkeypatch):
    from execute_sync_spark.session import driver_memory

    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory() == "3g"


def test_mat_off_rejects_unknown_site(monkeypatch):
    from execute_sync_spark.functions import matpoint

    before = set(matpoint.DISABLED)
    monkeypatch.setenv("SPARK_GRAFT_MAT_OFF", "jaccard_shingles,no_such_site")
    with pytest.raises(ValueError, match="no_such_site"):
        matpoint._init_from_env()
    assert matpoint.DISABLED == before


BENCH_INT_KNOBS = [
    "SPARK_GRAFT_BENCH_RUNS",
    "SPARK_GRAFT_BENCH_STREAMS",
    "SPARK_GRAFT_BENCH_WARM_RUNS",
    "SPARK_GRAFT_BENCH_CONC_PASSES",
]


@pytest.mark.parametrize("value", ["0", "-2", "two"])
def test_bench_conc_passes_rejects_fewer_than_one(monkeypatch, value):
    """Every integer bench knob, not only the concurrent pass count."""
    import bench

    for name in BENCH_INT_KNOBS:
        monkeypatch.setenv(name, value)
        with pytest.raises(SystemExit, match=name):
            bench._positive_int(name, 2)
        monkeypatch.setenv(name, "3")
        assert bench._positive_int(name, 2) == 3
        monkeypatch.delenv(name)
        assert bench._positive_int(name, 2) == 2


def test_bench_enc_sec_never_prints_zero():
    import bench

    assert bench._enc_sec(0.001) == 0.01
    assert bench._enc_sec(0.004) == 0.01
    assert bench._enc_sec(0.016) == 0.02


@pytest.mark.parametrize("size", ["0", "-3"])
def test_compat_chunk_size_below_one_is_rejected(monkeypatch, tmp_path, size):
    """A size below 1 used to turn chunking off (0) or do nothing (< 0)."""
    from execute_sync_spark.config import resolve_config

    env_file = str(tmp_path / "absent.env")
    monkeypatch.setenv("EXECUTESYNC_CHUNK_SIZE", size)
    with pytest.raises(ValueError, match="CHUNK_SIZE"):
        resolve_config({"compat_chunking": True}, env_file=env_file)
    # with chunking off the size is never used
    assert resolve_config(env_file=env_file).chunk_size == int(size)


@pytest.mark.parametrize("size", [0, -1])
def test_landing_rejects_chunk_size_below_one(size):
    from datetime import datetime

    from execute_sync_spark.landing.ingest import _land, land_ndjson_lines

    # rejected before any Spark call, so no session is needed
    with pytest.raises(ValueError, match="chunk size"):
        land_ndjson_lines(None, ['{"$TYPE":"A"}'], datetime(2026, 1, 1), chunk_size=size)
    with pytest.raises(ValueError, match="chunk size"):
        _land(None, datetime(2026, 1, 1), size)


@pytest.mark.parametrize("value,expected", [
    ("1", True), ("TRUE", True), ("Yes", True), (" on ", True),
    ("0", False), ("False", False), ("NO", False), ("off", False), ("", False),
])
def test_boolean_knobs_accept_both_spellings(monkeypatch, tmp_path, value, expected):
    from execute_sync_spark.config import resolve_config

    monkeypatch.setenv("EXECUTESYNC_FORCE", value)
    monkeypatch.setenv("EXECUTESYNC_INCLUDE_CALCS", value)
    cfg = resolve_config(env_file=str(tmp_path / "absent.env"))
    assert (cfg.force, cfg.include_calcs) == (expected, expected)


@pytest.mark.parametrize("name,value", [
    ("EXECUTESYNC_FORCE", "ture"),
    ("EXECUTESYNC_INCLUDE_CALCS", "maybe"),
    ("EXECUTESYNC_HIDE_INACTIVE_FIELDS", "2"),
])
def test_boolean_knobs_reject_other_values(monkeypatch, tmp_path, name, value):
    """Anything else used to mean False without a word."""
    from execute_sync_spark.config import resolve_config

    monkeypatch.setenv(name, value)
    with pytest.raises(ValueError, match=name):
        resolve_config(env_file=str(tmp_path / "absent.env"))


@pytest.mark.parametrize("name,value", [
    ("EXECUTESYNC_MAX_DOCUMENTS", "abc"),
    ("EXECUTESYNC_WAIT", "1.5"),
    ("EXECUTESYNC_CHUNK_SIZE", "10k"),
])
def test_integer_knobs_reject_non_integers(monkeypatch, tmp_path, name, value):
    """The error names the variable, not only the bad literal."""
    from execute_sync_spark.config import resolve_config

    monkeypatch.setenv(name, value)
    with pytest.raises(ValueError, match=f"{name} must be an integer"):
        resolve_config(env_file=str(tmp_path / "absent.env"))


@pytest.mark.parametrize("value", ["bogus", "verbose", "trace", "10"])
def test_log_level_rejects_unknown_names(monkeypatch, tmp_path, value):
    from execute_sync_spark.config import resolve_config

    monkeypatch.setenv("EXECUTESYNC_LOG_LEVEL", value)
    with pytest.raises(ValueError, match="EXECUTESYNC_LOG_LEVEL"):
        resolve_config(env_file=str(tmp_path / "absent.env"))


@pytest.mark.parametrize("value,level", [
    ("debug", logging.DEBUG), ("INFO", logging.INFO), ("Warn", logging.WARNING),
    ("warning", logging.WARNING), ("error", logging.ERROR), ("CRITICAL", logging.CRITICAL),
])
def test_cli_applies_log_level(monkeypatch, tmp_path, value, level):
    """The level reaches the package logger, so the per-page sync records
    (INFO) are emitted; ``config`` starts no Spark session."""
    from execute_sync_spark import cli

    logger = logging.getLogger("execute_sync_spark")
    before = logger.level
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("EXECUTESYNC_LOG_LEVEL", value)
    try:
        assert cli.main(["config"]) == 0
        assert logger.level == level
        assert logging.getLogger("execute_sync_spark.sources.sync").getEffectiveLevel() == level
    finally:
        logger.setLevel(before)
