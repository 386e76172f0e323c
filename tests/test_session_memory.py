"""Driver-heap default of the session factory, checked without starting a JVM.

Under local[N] the driver heap holds every task slot; a heap larger than the
machine can back is never spilled from and gets the JVM OOM-killed, so the
default is min(32g, MemTotal / 2) and an explicit SPARK_DRIVER_MEM wins.
"""

from __future__ import annotations

import os

import pytest

from plenario_mapper_spark.session import default_driver_memory

GB_KB = 1024 * 1024


def _mb(size: str) -> int:
    return int(size[:-1]) * {"m": 1, "g": 1024}[size[-1]]


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        {total_kb // 2} kB\n")
    return str(p)


@pytest.fixture(autouse=True)
def _no_explicit_heap(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)


@pytest.mark.parametrize("total_kb", [GB_KB, 4 * GB_KB, 16479424, 63 * GB_KB])
def test_default_never_exceeds_half_of_ram(tmp_path, total_kb):
    heap = default_driver_memory(_meminfo(tmp_path, total_kb))
    assert _mb(heap) <= total_kb // 1024 // 2
    assert _mb(heap) >= total_kb // 1024 // 2 - 1


@pytest.mark.skipif(not os.path.exists("/proc/meminfo"), reason="no /proc/meminfo")
def test_default_fits_this_machine():
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    assert _mb(default_driver_memory()) <= total_kb // 1024 // 2


@pytest.mark.parametrize("total_kb", [64 * GB_KB, 256 * GB_KB])
def test_default_is_32g_on_large_machines(tmp_path, total_kb):
    assert default_driver_memory(_meminfo(tmp_path, total_kb)) == "32g"


def test_unreadable_meminfo_falls_back_to_ceiling(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "32g"


@pytest.mark.parametrize("total_kb", [4 * GB_KB, 256 * GB_KB])
def test_explicit_heap_is_used_verbatim(tmp_path, monkeypatch, total_kb):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert default_driver_memory(_meminfo(tmp_path, total_kb)) == "3g"
