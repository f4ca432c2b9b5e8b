"""Session factory defaults that do not need a running SparkSession."""

import os

from reader_spark import session

GiB = 1 << 30


def test_default_driver_mem_scales_with_host_memory():
    # 40% of physical memory, floored to whole GiB
    assert session.default_driver_mem(15 * GiB) == "6g"
    assert session.default_driver_mem(16 * GiB) == "6g"
    assert session.default_driver_mem(64 * GiB) == "25g"


def test_default_driver_mem_bounds():
    # capped at 48g on big hosts, never below 1g on tiny ones
    assert session.default_driver_mem(120 * GiB) == "48g"
    assert session.default_driver_mem(1024 * GiB) == "48g"
    assert session.default_driver_mem(GiB) == "1g"
    assert session.default_driver_mem(0) == "1g"


def test_default_driver_mem_fits_this_host():
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_gb = int(session.default_driver_mem().rstrip("g"))
    assert heap_gb * GiB < total
