"""Session defaults that must hold on any host."""

import os

from haskellpagerank_spark.session import default_driver_memory


def test_driver_memory_default_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = default_driver_memory()
    assert mem.endswith("m")
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert 0 < int(mem[:-1]) <= min(48 * 1024, phys_mb // 3)


def test_driver_memory_variable_takes_precedence(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "48g")
    assert default_driver_memory() == "48g"
