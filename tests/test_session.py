"""Session sizing: the default driver heap comes from the host, so the JVM
can start on any machine without an environment override."""

from __future__ import annotations

import os

from searchengine_spark.session import _default_driver_memory


def _mb(heap: str) -> int:
    assert heap.endswith("m"), heap
    return int(heap[:-1])


def test_default_heap_never_exceeds_physical_ram():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < _mb(_default_driver_memory()) << 20 <= phys


def test_default_heap_share_and_cap():
    gib = 1024 * 1024  # kB
    assert _mb(_default_driver_memory(f"MemAvailable: {10 * gib} kB\n")) == 4096
    # a 1 TiB host still gets the 16g cap
    assert _mb(_default_driver_memory(f"MemAvailable: {1024 * gib} kB\n")) == 16384
    # no MemAvailable line: share of physical RAM, still within it
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert _mb(_default_driver_memory("MemTotal: 1 kB\n")) << 20 <= phys
