"""Session factory: what a driver gets from ``get_session`` alone."""

from __future__ import annotations

import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The package reaches the driver through sys.path only, never through the
# PYTHONPATH environment variable, which the Python workers would inherit.
_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
import __spark_entry__ as entrymod
from fink_science_spark.session import get_session

spark = get_session(app_name="outside_checkout")
rows = entrymod.queries()["anomaly_real_lc"](spark, {sf!r}).collect()
print("rows", len(rows), flush=True)
spark.stop()
"""


def _run_outside_checkout(cwd, sf_dir, **env_overrides):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g", **env_overrides)
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(root=ROOT, sf=sf_dir)],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    m = re.search(r"rows (\d+)", proc.stdout)
    assert m and int(m.group(1)) > 0, proc.stdout[-2000:]


def test_pandas_udf_query_runs_from_outside_the_checkout(tmp_path, sf_smoke):
    """A driver whose working directory is outside the checkout must not
    fail its first pandas UDF with ModuleNotFoundError on the workers."""
    _run_outside_checkout(tmp_path, sf_smoke)


def test_long_scratch_path_falls_back_to_tcp(tmp_path, sf_smoke):
    """A scratch directory too long for an AF_UNIX socket path must not
    kill the driver: the session leaves Unix-domain sockets off and the
    Python workers talk over TCP loopback."""
    from fink_science_spark.session import _fits_unix_socket

    scratch = tmp_path / ("long_scratch_" + "x" * 64)
    assert not _fits_unix_socket(str(scratch / "jvmtmp"))
    _run_outside_checkout(tmp_path, sf_smoke, SPARK_GRAFT_SCRATCH=str(scratch))


def test_unix_socket_path_limit():
    from fink_science_spark.session import _fits_unix_socket

    # "<dir>/.<uuid4>.sock" is the directory plus 43 bytes
    assert _fits_unix_socket("/" + "d" * 63)
    assert not _fits_unix_socket("/" + "d" * 64)
