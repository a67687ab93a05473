"""Session construction: the default heap fits the host, and a failing
warm-up piece raises instead of being skipped."""

from __future__ import annotations

import os

import pytest

from pelinker_spark.session import _warm_runtime, driver_memory


def _mb(size: str) -> int:
    units = {"k": 2**-10, "m": 1, "g": 2**10, "t": 2**20}
    return int(float(size[:-1]) * units[size[-1].lower()])


def test_heap_fits_physical_ram(spark, monkeypatch):
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert _mb(spark.sparkContext.getConf().get("spark.driver.memory")) <= ram_mb
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert 0 < _mb(driver_memory()) <= min(ram_mb // 2, 24 * 1024)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"


def test_warm_up_failure_raises(spark, monkeypatch):
    import pyspark.sql.functions as F

    def broken(*args, **kwargs):
        raise RuntimeError("warm-up piece failed")

    monkeypatch.setattr(F, "pandas_udf", broken)
    fresh = spark.newSession()
    with pytest.raises(RuntimeError, match="warm-up piece failed"):
        _warm_runtime(fresh, 2)
    assert not getattr(fresh, "_pelinker_warmed", False)
