"""Session defaults adapt to the host: the driver heap fits in RAM and
the default parallelism follows the core count (no JVM started)."""

from __future__ import annotations

import os

from tiger_etl_spark import session


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise AssertionError("no MemTotal in /proc/meminfo")


def test_default_driver_heap_fits_host_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    heap = session.driver_memory()
    assert heap.endswith("m"), heap
    heap_bytes = int(heap[:-1]) << 20
    assert 0 < heap_bytes < _mem_total_bytes()
    assert heap_bytes <= 48 << 30


def test_explicit_driver_heap_is_used_verbatim(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.driver_memory() == "3g"


def test_default_parallelism_follows_cpu_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_parallelism() == os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_parallelism() == 3
