"""``session.py``: the driver heap default fits the machine."""

import os

import pytest


@pytest.mark.skipif("KG_SPARK_DRIVER_MEM" in os.environ,
                    reason="the heap is set by KG_SPARK_DRIVER_MEM")
def test_default_driver_heap_fits_physical_ram(spark):
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    heap = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert heap <= ram, (heap, ram)
