"""get_spark's default driver heap follows host memory."""

from __future__ import annotations

import os

from minispark_spark.session import default_driver_mem


def test_default_driver_mem_is_a_quarter_of_host_memory_within_bounds():
    value = default_driver_mem()
    assert value.endswith("m")
    mb = int(value[:-1])
    assert 1024 <= mb <= 16 * 1024
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    assert mb == 1024 or mb <= host_mb // 4
