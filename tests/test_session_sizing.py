"""Driver heap default sized to the host, from /proc/meminfo text (no
Spark session started)."""

from __future__ import annotations

from momyre_spark.session import driver_memory

MEMINFO = """MemTotal:       {kb} kB
MemFree:         1234567 kB
MemAvailable:    7654321 kB
"""


def test_half_of_memtotal():
    # a 15 GiB host gets about 7.5 GiB of heap, not 48g
    assert driver_memory(MEMINFO.format(kb=15 * 1024 * 1024)) == f"{15 * 512}m"


def test_capped_at_48g_and_floored_at_1g():
    assert driver_memory(MEMINFO.format(kb=512 * 1024 * 1024)) == f"{48 * 1024}m"
    assert driver_memory(MEMINFO.format(kb=1024 * 1024)) == "1024m"


def test_unreadable_meminfo_keeps_48g():
    assert driver_memory("") == "48g"
    assert driver_memory("MemFree: 100 kB\n") == "48g"
