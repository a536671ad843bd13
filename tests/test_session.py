"""``session.py``: the driver heap default, checked without starting a
session."""

from __future__ import annotations

import os

from k_means_hadoop_spark.session import driver_memory


def test_driver_memory_defaults_to_a_quarter_of_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem = driver_memory()
    assert mem.endswith("m") and 0 < int(mem[:-1]) <= ram_mb // 4


def test_driver_memory_env_override_passes_through(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"
