"""Driver-memory sizing from the host's /proc/meminfo text, and the
worker PYTHONPATH the session sets up (pure: no Spark session)."""

import os

import garden_net_backend_spark
from garden_net_backend_spark.session import (
    driver_memory,
    ensure_package_on_pythonpath,
)

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


def test_package_parent_goes_first_on_pythonpath_once():
    parent = os.path.dirname(
        os.path.dirname(os.path.abspath(garden_net_backend_spark.__file__))
    )
    env = {}
    ensure_package_on_pythonpath(env)
    assert env["PYTHONPATH"] == parent
    env = {"PYTHONPATH": os.pathsep.join(["/a", "/b"])}
    ensure_package_on_pythonpath(env)
    ensure_package_on_pythonpath(env)
    assert env["PYTHONPATH"].split(os.pathsep) == [parent, "/a", "/b"]
