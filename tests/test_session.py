"""get_spark's host-derived sizing: task slots, shuffle width and driver heap."""

import os

import pytest

from geodistpy_spark import get_spark

_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _bytes(size: str) -> int:
    size = size.strip().lower().rstrip("b")
    return int(size[:-1]) * _UNITS[size[-1]] if size[-1] in _UNITS else int(size)


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) * 1024 for line in f
                    if line.startswith("MemTotal:"))


def _slots() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus is not None else len(os.sched_getaffinity(0))


def test_master_is_one_slot_per_core(spark):
    n = _slots()
    assert spark.sparkContext.master == f"local[{n}]"
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(n * 4)


def test_driver_memory_follows_env_or_host(spark):
    mem = spark.sparkContext.getConf().get("spark.driver.memory")
    if "SPARK_DRIVER_MEMORY" in os.environ:
        assert mem == os.environ["SPARK_DRIVER_MEMORY"]
    else:
        assert _bytes(mem) <= _mem_total_bytes() // 2


def test_unparseable_cpus_raise(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "abc")
    with pytest.raises(ValueError):
        get_spark()
