import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from garden_net_backend_spark.session import get_session

# activate the vendored protobuf shim BEFORE any skipif probes or JVM
# launch (workers inherit PYTHONPATH from the JVM env snapshot)
from garden_net_backend_spark._vendor import ensure_protobuf_shim

ensure_protobuf_shim()


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    s = get_session("tests")
    yield s


#: the first test that found the Spark JVM gone
_jvm_death: dict = {}


def _jvm_gone() -> "str | None":
    """Why the Spark JVM can no longer serve this session, or None
    while it answers (or before it has been started)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return None
    proc = getattr(gateway, "proc", None)
    rc = proc.poll() if proc is not None else None
    if rc is None:
        try:
            gateway.jvm.java.lang.System.currentTimeMillis()
            return None
        except Exception as exc:  # noqa: BLE001 — any py4j failure
            return f"the Spark JVM stopped answering the gateway ({exc!r})"
    why = f"the Spark JVM exited with code {rc}"
    if rc == -9:
        why += "; check dmesg for an OOM kill"
    return why


@pytest.hookimpl(tryfirst=True)
def pytest_runtest_setup(item):
    """Before each test that uses ``spark`` (and before any of its
    fixtures, module-scoped ones included, are set up), ping the JVM.
    The first test that finds it gone fails with the cause; every later
    Spark test fails at once, pointing at that first test, instead of
    each one erroring on a refused connection."""
    if "spark" not in getattr(item, "fixturenames", ()):
        return
    if _jvm_death:
        pytest.fail(f"Spark JVM is gone; see {_jvm_death['test']}", pytrace=False)
    why = _jvm_gone()
    if why is not None:
        _jvm_death["test"] = item.nodeid
        pytest.fail(why, pytrace=False)


SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"
