"""Driver-memory sizing from the host's /proc/meminfo text (pure: no
Spark session)."""

from garden_net_backend_spark.session import driver_memory

_MEMINFO = """MemTotal:       {kb} kB
MemFree:         1234567 kB
MemAvailable:    2345678 kB
"""


def test_driver_memory_is_sixty_percent_of_memtotal():
    # 16,070 MiB total → 9,642 MiB heap
    assert driver_memory(_MEMINFO.format(kb=16_455_680)) == "9642m"
    assert driver_memory(_MEMINFO.format(kb=4 * 1024 * 1024)) == "2457m"


def test_driver_memory_capped_at_48g():
    assert driver_memory(_MEMINFO.format(kb=80 * 1024 * 1024)) == "48g"
    assert driver_memory(_MEMINFO.format(kb=512 * 1024 * 1024)) == "48g"
    # just under the cap stays sized
    assert driver_memory(_MEMINFO.format(kb=79 * 1024 * 1024)) == "48537m"


def test_driver_memory_without_meminfo_keeps_48g():
    assert driver_memory(None) == "48g"
    assert driver_memory("") == "48g"
    assert driver_memory("MemFree: 1 kB\n") == "48g"
