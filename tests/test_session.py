"""Session defaults fit the machine they run on (Spark-free)."""

from __future__ import annotations

import os

from claude_code_memory_spark import session


def test_driver_heap_default_is_a_quarter_of_physical_memory():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = session._default_driver_mem()
    assert mem.endswith("g")
    gib = int(mem[:-1])
    assert gib >= 1
    assert gib * 2**30 <= max(phys // 4, 2**30)
