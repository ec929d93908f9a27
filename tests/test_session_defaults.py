"""Session defaults must fit the host they start on (no JVM needed)."""

from __future__ import annotations

import os

from code_graph_rag_spark.session import default_driver_memory


def test_default_driver_heap_fits_host_ram():
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    heap = default_driver_memory()
    assert heap.endswith("g")
    gib = int(heap[:-1])
    assert 1 <= gib <= 64
    assert gib * 2**30 <= ram
