import os

import pytest

from anycrawl_spark.session import get_spark


def _test_heap():
    # get_spark's default heap (48g) is sized for the benchmark host. On a
    # smaller host ParallelGC grows the young generation past physical memory
    # long before it collects, and the kernel OOM-kills the JVM mid-suite, so
    # every later Spark test fails with "Connection refused". 40% of RAM,
    # clamped to 2-6g, leaves room for the Python workers.
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(2, min(6, int(ram_gb * 0.4)))}g"


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running stress case (hostile-input probes)"
    )
    # an explicit SPARK_DRIVER_MEM still wins
    os.environ.setdefault("SPARK_DRIVER_MEM", _test_heap())


@pytest.fixture(scope="session")
def spark():
    s = get_spark("anycrawl-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()
