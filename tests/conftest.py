from __future__ import annotations

import os

import pytest


def _host_sized_driver_memory() -> str | None:
    """A quarter of the host's MemTotal, in MiB, capped at the session's
    8 GiB default. The driver heap is pre-touched, so it stays resident
    for the whole run; the JVM adds about 1.6 GB beside it and the
    ``local[32]`` Python workers more, and room must remain for a second
    Spark process beside the suite (at half of a 15.7 GiB host the gate's
    JVM reached 9.5 GB resident and the kernel killed it)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    kib = int(line.split()[1])
                    return f"{min(8 << 10, kib // 4096)}m"
    except OSError:
        pass
    return None


# before anything imports fink_science_spark.session, which reads it once
if "SPARK_DRIVER_MEMORY" not in os.environ:
    _mem = _host_sized_driver_memory()
    if _mem:
        os.environ["SPARK_DRIVER_MEMORY"] = _mem

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_T2_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from fink_science_spark.session import get_session

    s = get_session(app_name="fink_science_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correctness() -> str:
    return SF_CORRECTNESS
