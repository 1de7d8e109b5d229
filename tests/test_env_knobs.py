"""Environment knobs reject bad values loudly instead of doing nothing."""

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
